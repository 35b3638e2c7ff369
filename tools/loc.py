#!/usr/bin/env python3
"""Non-blank, non-comment lines of main Scala source per `graft/*` package.

A line counts when, stripped of leading whitespace, it is not empty and
does not start with `//`, `*` or `/*`. Files directly under `graft/` count
as the package `(root)`.

Usage:
    python3 tools/loc.py              # the working tree
    python3 tools/loc.py REV          # a git revision
    python3 tools/loc.py REV1 REV2    # both, and REV2 minus REV1

A source is a git revision or `.` for the working tree.
"""
import os
import subprocess
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = "src/main/scala/graft/"


def counts(lines):
    n = 0
    for line in lines:
        s = line.strip()
        if s and not s.startswith(("//", "*", "/*")):
            n += 1
    return n


def package_of(path):
    rest = path[len(MAIN):]
    return rest.split("/", 1)[0] if "/" in rest else "(root)"


def tally(source):
    out = Counter()
    if source == ".":
        for d, _, files in os.walk(os.path.join(REPO, MAIN)):
            for f in files:
                if f.endswith(".scala"):
                    full = os.path.join(d, f)
                    with open(full, encoding="utf-8") as fh:
                        out[package_of(os.path.relpath(full, REPO))] += counts(fh)
        return out
    git = ["git", "-C", REPO]
    names = subprocess.run(git + ["ls-tree", "-r", "--name-only", source, MAIN],
                           check=True, capture_output=True, text=True).stdout.split()
    for name in names:
        if name.endswith(".scala"):
            text = subprocess.run(git + ["show", f"{source}:{name}"], check=True,
                                  capture_output=True, text=True).stdout
            out[package_of(name)] += counts(text.splitlines())
    return out


def main(argv):
    sources = argv[1:] or ["."]
    if len(sources) > 2:
        sys.exit(__doc__)
    tallies = [tally(s) for s in sources]
    packages = sorted(set().union(*tallies))
    header = ["package"] + sources + (["delta"] if len(sources) == 2 else [])
    rows = []
    for p in packages + ["total"]:
        vals = [sum(t.values()) if p == "total" else t[p] for t in tallies]
        if len(vals) == 2:
            vals.append(f"{vals[1] - vals[0]:+d}")
        rows.append([p] + [str(v) for v in vals])
    widths = [max(len(r[i]) for r in rows + [header]) for i in range(len(header))]
    for r in [header] + rows:
        print("  ".join(c.ljust(w) if i == 0 else c.rjust(w) for i, (c, w) in enumerate(zip(r, widths))))


if __name__ == "__main__":
    main(sys.argv)
