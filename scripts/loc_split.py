#!/usr/bin/env python3
"""Lines added and removed under src/main since a git revision, split into
code, comment and blank lines.

Usage: scripts/loc_split.py <base-rev>

The working tree is compared, untracked files under src/main included.
A line whose trimmed text starts with `//`, `/*`, `*` or `*/` is a
comment; an empty trimmed line is blank; the rest is code.
"""
import subprocess
import sys

SCOPE = "src/main"
KINDS = ("code", "comment", "blank")


def kind(line):
    t = line.strip()
    if not t:
        return "blank"
    if t.startswith(("//", "/*", "*")):
        return "comment"
    return "code"


def git(top, *args):
    return subprocess.run(["git", "-C", top, *args], check=True,
                          capture_output=True, text=True).stdout


def count(top, base):
    added = dict.fromkeys(KINDS, 0)
    removed = dict.fromkeys(KINDS, 0)
    diff = git(top, "diff", "--no-color", "--no-ext-diff", "-U0", base,
               "--", SCOPE)
    in_hunk = False
    for line in diff.splitlines():
        if line.startswith("diff --git "):
            in_hunk = False
        elif line.startswith("@@"):
            in_hunk = True
        elif in_hunk and line.startswith("+"):
            added[kind(line[1:])] += 1
        elif in_hunk and line.startswith("-"):
            removed[kind(line[1:])] += 1
    untracked = git(top, "ls-files", "--others", "--exclude-standard", "-z",
                    "--", SCOPE)
    for path in filter(None, untracked.split("\0")):
        with open(f"{top}/{path}", encoding="utf-8", errors="replace") as f:
            for line in f:
                added[kind(line)] += 1
    return added, removed


def main(argv):
    if len(argv) != 2:
        sys.exit(next(l for l in __doc__.splitlines() if l.startswith("Usage")))
    base = argv[1]
    top = git(".", "rev-parse", "--show-toplevel").strip()
    added, removed = count(top, base)
    print(f"{SCOPE} since {base} (working tree)")
    print(f"{'':8}{'added':>8}{'removed':>9}{'net':>8}")
    for k in KINDS + ("total",):
        a = sum(added.values()) if k == "total" else added[k]
        r = sum(removed.values()) if k == "total" else removed[k]
        print(f"{k:8}{a:>8}{r:>9}{a - r:>+8}")


if __name__ == "__main__":
    main(sys.argv)
