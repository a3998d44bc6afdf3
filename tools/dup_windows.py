#!/usr/bin/env python3
"""Duplicate-window scan: find blocks of lines that are written out twice.

Usage: python3 tools/dup_windows.py [--show]   (from the repo root)

Reads every *.scala file under src/main and normalizes each line: trim
it, drop a leading `|` stripMargin margin and collapse runs of
whitespace to one space. A window is 6 consecutive normalized lines;
windows that hold a line of 3 characters or fewer (a brace, a blank,
`)`, a closing triple quote) are skipped, so closing punctuation does
not make two blocks look alike.

A window that occurs more than once across all scanned files marks its
lines as "in repeated windows". Every occurrence after the first, in
file-path then line order, marks its lines as "repeating an earlier
copy": those are the lines a shared builder would remove. Prints both
counts per file, a total, and the total over graft/queries/. --show
also lists each run of repeating lines (1-based, inclusive) with where
its first copy starts.
"""
import argparse
import os
import re
import sys

ROOT = "src/main"
WINDOW = 6
UNDER = "graft/queries/"


def normalize(line):
    s = line.strip()
    if s.startswith("|"):
        s = s[1:].strip()
    return re.sub(r"\s+", " ", s)


def scala_files(root):
    for d, _, names in os.walk(root):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(d, n)


def scan(paths):
    lines = {}
    for p in paths:
        with open(p, encoding="utf-8") as f:
            lines[p] = [normalize(l) for l in f]
    seen = {}  # window -> first (path, start)
    repeated = {p: set() for p in paths}
    later = {p: {} for p in paths}  # line -> (first path, first line)
    for p in paths:
        ls = lines[p]
        for i in range(len(ls) - WINDOW + 1):
            w = tuple(ls[i:i + WINDOW])
            if any(len(x) <= 3 for x in w):
                continue
            first = seen.get(w)
            if first is None:
                seen[w] = (p, i)
                continue
            fp, fi = first
            repeated[fp].update(range(fi, fi + WINDOW))
            repeated[p].update(range(i, i + WINDOW))
            for k in range(WINDOW):
                later[p].setdefault(i + k, (fp, fi + k))
    return repeated, later


def runs(later):
    """Consecutive line runs of `later`, 1-based, with their first copy."""
    out = []
    for i in sorted(later):
        if out and out[-1][1] == i:
            out[-1][1] = i + 1
        else:
            out.append([i + 1, i + 1, (later[i][0], later[i][1] + 1)])
    return out


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--show", action="store_true")
    a = ap.parse_args(argv)
    paths = sorted(scala_files(ROOT))
    repeated, later = scan(paths)
    tot_r = tot_l = sub_r = sub_l = 0
    print(f"{'in repeated windows':>20} {'repeat earlier copy':>20}  file")
    for p in paths:
        r, l = len(repeated[p]), len(later[p])
        if r == 0:
            continue
        print(f"{r:>20} {l:>20}  {p}")
        if a.show:
            for lo, hi, src in runs(later[p]):
                print(f"{'':>42}{lo}-{hi} repeats {src[0]}:{src[1]}")
        tot_r += r
        tot_l += l
        if UNDER in p:
            sub_r += r
            sub_l += l
    print(f"{tot_r:>20} {tot_l:>20}  total")
    print(f"{sub_r:>20} {sub_l:>20}  total under {UNDER}")


if __name__ == "__main__":
    main(sys.argv[1:])
