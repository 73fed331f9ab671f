#!/usr/bin/env python3
"""Count copy-pasted code in source files.

A window is WIN consecutive lines that, once trimmed, are all non-blank, not
comment-only and longer than 3 characters. Per file, prints the number of
distinct windows that occur more than once, and the number of lines that are
extra copies (lines covered by a window's second and later occurrences).

A directory argument stands for the `*.scala` files under it, recursively, in
sorted path order.

Given more than one file, also prints one `across files:` line: the number of
distinct windows that occur in two or more of the files, and the number of
lines their occurrences cover outside the first file (in argument order) that
holds them.

Usage: dup_windows.py FILE|DIR...
"""
import os
import sys
from collections import defaultdict

WIN = 6


def countable(line):
    return len(line) > 3 and not line.startswith(("//", "/*", "*", "#"))


def windows(path):
    """Window -> start lines, for every countable window of the file."""
    lines = [l.strip() for l in open(path, encoding="utf-8", errors="replace")]
    starts = defaultdict(list)
    for i in range(len(lines) - WIN + 1):
        win = lines[i:i + WIN]
        if all(countable(l) for l in win):
            starts[tuple(win)].append(i)
    return starts


def dup_windows(path):
    repeated = {w: s for w, s in windows(path).items() if len(s) > 1}
    extra = {i + k for s in repeated.values() for i in s[1:] for k in range(WIN)}
    first = {i + k for s in repeated.values() for k in range(WIN) for i in s[:1]}
    return len(repeated), len(extra - first)


def cross_file_windows(paths):
    occurrences = defaultdict(list)  # window -> [(file index, start line)]
    for f, p in enumerate(paths):
        for w, s in windows(p).items():
            occurrences[w].extend((f, i) for i in s)
    shared = [s for s in occurrences.values() if len({f for f, _ in s}) > 1]
    extra, first = set(), set()
    for s in shared:
        home = min(f for f, _ in s)
        for f, i in s:
            (first if f == home else extra).update((f, i + k) for k in range(WIN))
    return len(shared), len(extra - first)


def expand(arg):
    """The files an argument names: itself, or a directory's *.scala files."""
    if not os.path.isdir(arg):
        return [arg]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(arg)
                  for f in fs if f.endswith(".scala"))


if __name__ == "__main__":
    args = sys.argv[1:]
    paths = [p for a in args if not a.startswith("-") for p in expand(a)]
    missing = [p for p in paths if not os.path.isfile(p)]
    if not paths or missing or any(a.startswith("-") for a in args):
        for p in missing:
            print(f"not a file or directory: {p}", file=sys.stderr)
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    for p in paths:
        n, extra = dup_windows(p)
        print(f"{p}: repeated_windows={n} extra_copy_lines={extra}")
    if len(paths) > 1:
        n, extra = cross_file_windows(paths)
        print(f"across files: repeated_windows={n} extra_copy_lines={extra}")
