#!/usr/bin/env python3
"""Compare the per-query row signatures two `graft.Verify` runs wrote.

Usage: python3 tools/compare_hashes.py <parent_out> <change_out> [query ...]

Each argument is a Verify output directory (or its row_hashes.json).
Optional query names restrict the comparison; like Verify, they match
by prefix. Verify logs a failed query to stderr and writes no
signature for it, so a query present on only one side (or a requested
name matching nothing on a side) is reported as MISSING. Exits 1 on
any difference or missing query, 0 when every signature is identical.
"""
import json
import os
import sys


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "row_hashes.json")
    with open(path) as f:
        return json.load(f)


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sides = {"parent": load(sys.argv[1]), "change": load(sys.argv[2])}
    only = sys.argv[3:]

    def wanted(name):
        return not only or any(name.startswith(q) for q in only)

    problems = []
    for q in only:
        for side, sigs in sides.items():
            if not any(name.startswith(q) for name in sigs):
                problems.append(f"{q}: MISSING on {side}")
    names = sorted(n for n in set(sides["parent"]) | set(sides["change"])
                   if wanted(n))
    same = 0
    for n in names:
        a, b = sides["parent"].get(n), sides["change"].get(n)
        if a is None or b is None:
            problems.append(
                f"{n}: MISSING on {'parent' if a is None else 'change'}")
        elif a != b:
            problems.append(f"{n}: DIFF parent={a} change={b}")
        else:
            same += 1
    for p in problems:
        print(p)
    print(f"{same} identical, {len(problems)} problem(s) "
          f"over {len(names)} queries")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
