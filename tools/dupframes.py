#!/usr/bin/env python3
"""Count code pasted verbatim across the Scala sources.

Every `src/main/**/*.scala` file is reduced to its code lines: blank lines
and lines starting with `//`, `*` or `/**` are dropped, and each remaining
line is stripped. Every window of 8 consecutive code lines is a candidate
block; windows holding an `import ` or `package ` line, or totalling fewer
than 200 characters (one newline counted per line), are skipped. A block seen two or more times marks the
lines of each non-first occurrence (in path, then line order) as pasted.

The first output line is the number of distinct pasted lines, followed by
the count per top-level package under `src/main/scala/graft/` and the
largest groups of repeated blocks with their `file:line` locations.

    python3 tools/dupframes.py [repo_root] [--top N]
"""
import argparse
import os
import sys
from collections import defaultdict

WINDOW = 8
MIN_CHARS = 200


def code_lines(path):
    """(line number, stripped text) of each code line of one file."""
    out = []
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            s = raw.strip()
            if not s or s.startswith("//") or s.startswith("*") or s.startswith("/**"):
                continue
            out.append((no, s))
    return out


def scala_files(root):
    base = os.path.join(root, "src", "main")
    found = []
    for d, _, names in os.walk(base):
        for n in names:
            if n.endswith(".scala"):
                found.append(os.path.relpath(os.path.join(d, n), root))
    return sorted(found)


def scan(root):
    """Returns (pasted, groups): `pasted` is the set of (file, line) pairs in
    non-first occurrences; `groups` maps each repeated window to its
    occurrences as (file, first line number) in scan order."""
    occurrences = defaultdict(list)
    lines_of = {}
    for rel in scala_files(root):
        lines = code_lines(os.path.join(root, rel))
        lines_of[rel] = lines
        for i in range(len(lines) - WINDOW + 1):
            win = tuple(s for _, s in lines[i:i + WINDOW])
            if any("import " in s or "package " in s for s in win):
                continue
            if sum(len(s) + 1 for s in win) < MIN_CHARS:
                continue
            occurrences[win].append((rel, i))
    pasted = set()
    groups = {}
    for win, occ in occurrences.items():
        if len(occ) < 2:
            continue
        groups[win] = [(rel, lines_of[rel][i][0]) for rel, i in occ]
        for rel, i in occ[1:]:
            for no, _ in lines_of[rel][i:i + WINDOW]:
                pasted.add((rel, no))
    return pasted, groups


def package_of(rel):
    parts = rel.split(os.sep)
    if len(parts) > 5 and parts[:4] == ["src", "main", "scala", "graft"]:
        return parts[4]
    return "(root)"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--top", type=int, default=15, help="repeated groups to list")
    args = ap.parse_args(argv)
    pasted, groups = scan(args.root)
    print(len(pasted))
    per_pkg = defaultdict(int)
    for rel, _ in pasted:
        per_pkg[package_of(rel)] += 1
    for pkg, n in sorted(per_pkg.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"  {pkg} {n}")
    # a pasted block longer than one window repeats as overlapping windows
    # a line or so apart; list it once, most-copied blocks first
    ranked = sorted(groups.items(), key=lambda kv: (-len(kv[1]), kv[1][0]))
    shown = set()
    listed = 0
    for win, occ in ranked:
        if listed >= args.top:
            break
        if any((rel, no - d) in shown for rel, no in occ for d in range(1, WINDOW)):
            continue
        shown.update(occ)
        listed += 1
        print(f"{len(occ)}x {win[0][:72]}")
        for rel, no in occ:
            print(f"    {rel}:{no}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
