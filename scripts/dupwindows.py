#!/usr/bin/env python3
"""Measure copied code in the main Scala sources.

A window is 6 consecutive lines of one file, each stripped of leading and
trailing whitespace. Files under src/main are read in sorted path order,
and a window with any line of 3 characters or fewer is skipped. A window
that occurs more than once is "recurring"; each occurrence is counted as
oracle SQL (some line of it sits inside a triple-quoted string), an import
block (every line starts with `import `) or Scala code. A line "sits after
the first copy" when some window covering it is a later occurrence of a
recurring window; a maximal run of such lines in one file is one "site".

Usage: python3 scripts/dupwindows.py   (from the repository root; no options)
"""
import glob
import os
import signal
from collections import defaultdict

W = 6
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def in_string_flags(lines):
    """For each raw line, whether it starts inside a triple-quoted string."""
    flags, inside = [], False
    for line in lines:
        flags.append(inside)
        if line.count('"""') % 2 == 1:
            inside = not inside
    return flags


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True))
    occ = defaultdict(list)  # window -> [(file, start line, kind)]
    total = 0
    for f in files:
        with open(f) as fh:
            raw = fh.read().split("\n")
        total += len(raw) - (1 if raw and raw[-1] == "" else 0)
        flags = in_string_flags(raw)
        lines = [l.strip() for l in raw]
        for i in range(len(lines) - W + 1):
            win = tuple(lines[i:i + W])
            if any(len(l) <= 3 for l in win):
                continue
            if all(l.startswith("import ") for l in win):
                kind = "import"
            elif any(flags[j] for j in range(i, i + W)):
                kind = "sql"
            else:
                kind = "scala"
            occ[win].append((f, i, kind))

    recurring = {w: o for w, o in occ.items() if len(o) > 1}
    kinds = defaultdict(int)
    later = defaultdict(set)  # file -> line indexes covered by a later copy
    for o in recurring.values():
        for f, i, kind in o:
            kinds[kind] += 1
        for f, i, _ in o[1:]:
            later[f].update(range(i, i + W))

    sites, per_file = 0, {}
    for f, idx in later.items():
        s = sorted(idx)
        sites += sum(1 for k, v in enumerate(s) if k == 0 or v != s[k - 1] + 1)
        per_file[os.path.relpath(f, ROOT)] = len(s)
    n_occ = sum(len(o) for o in recurring.values())

    print(f"main Scala lines:               {total}")
    print(f"distinct recurring windows:     {len(recurring)}")
    print(f"occurrences:                    {n_occ} "
          f"(sql {kinds['sql']}, scala {kinds['scala']}, import {kinds['import']})")
    print(f"lines after the first copy:     {sum(per_file.values())}")
    print(f"sites:                          {sites}")
    print("per file (lines after the first copy):")
    for f, n in sorted(per_file.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"  {n:6d}  {f}")


if __name__ == "__main__":
    main()
