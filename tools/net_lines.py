#!/usr/bin/env python3
"""Print the lines a change adds and removes under src/main, src/test and tools.

    python3 tools/net_lines.py BASE

BASE is any git revision. The counts come from `git diff --numstat BASE`,
so they cover the working tree against BASE: committed, staged and
unstaged changes to tracked files. Untracked files are not counted until
they are added. One line per area, then the total:

    src/main   +120  -310  net -190
"""
import subprocess
import sys

AREAS = ("src/main", "src/test", "tools")


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    out = subprocess.run(["git", "diff", "--numstat", sys.argv[1], "--", *AREAS],
                         check=True, capture_output=True, text=True).stdout
    totals = {a: [0, 0] for a in AREAS}
    for line in out.splitlines():
        added, removed, path = line.split("\t", 2)
        if added == "-":  # binary file
            continue
        area = next(a for a in AREAS if path.startswith(a + "/"))
        totals[area][0] += int(added)
        totals[area][1] += int(removed)
    rows = list(totals.items()) + [("total", [sum(t[i] for t in totals.values()) for i in (0, 1)])]
    for area, (added, removed) in rows:
        print(f"{area:9s} {'+' + str(added):>7s} {'-' + str(removed):>7s}  net {added - removed:+d}")


if __name__ == "__main__":
    main()
