#!/usr/bin/env python3
"""Count copy-pasted code in source files.

A window is WIN consecutive lines that, once trimmed, are all non-blank, not
comment-only and longer than 3 characters. Per file, prints the number of
distinct windows that occur more than once, and the number of lines that are
extra copies (lines covered by a window's second and later occurrences).

Usage: dup_windows.py FILE...
"""
import sys
from collections import defaultdict

WIN = 6


def countable(line):
    return len(line) > 3 and not line.startswith(("//", "/*", "*", "#"))


def dup_windows(path):
    lines = [l.strip() for l in open(path, encoding="utf-8", errors="replace")]
    starts = defaultdict(list)
    for i in range(len(lines) - WIN + 1):
        win = lines[i:i + WIN]
        if all(countable(l) for l in win):
            starts[tuple(win)].append(i)
    repeated = {w: s for w, s in starts.items() if len(s) > 1}
    extra = {i + k for s in repeated.values() for i in s[1:] for k in range(WIN)}
    first = {i + k for s in repeated.values() for k in range(WIN) for i in s[:1]}
    return len(repeated), len(extra - first)


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__.strip())
    for p in sys.argv[1:]:
        n, extra = dup_windows(p)
        print(f"{p}: repeated_windows={n} extra_copy_lines={extra}")
