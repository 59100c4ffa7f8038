#!/usr/bin/env python3
"""Count the main-code Scala lines and compare them with a git revision.

Prints the line total of every `src/main/**/*.scala` file in the
working tree, the same total at REV (read through `git show`, so the
checkout is not touched), and the per-file deltas, largest shrink
first. A line is a newline, as `wc -l` counts it.

    python3 scripts/main_lines.py [REV]   # default HEAD

Run it from the repository root.
"""
import os
import subprocess
import sys

ROOT = "src/main"


def is_main_scala(path: str) -> bool:
    return path.startswith(ROOT + "/") and path.endswith(".scala")


def tree_counts() -> dict:
    counts = {}
    for d, _, files in os.walk(ROOT):
        for f in files:
            path = os.path.join(d, f)
            if is_main_scala(path):
                with open(path, "rb") as fh:
                    counts[path] = fh.read().count(b"\n")
    return counts


def rev_counts(rev: str) -> dict:
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", ROOT],
        check=True, capture_output=True, text=True).stdout.split()
    counts = {}
    for path in filter(is_main_scala, names):
        blob = subprocess.run(["git", "show", f"{rev}:{path}"],
                              check=True, capture_output=True).stdout
        counts[path] = blob.count(b"\n")
    return counts


def main() -> int:
    rev = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    now, then = tree_counts(), rev_counts(rev)
    deltas = sorted(
        (now.get(p, 0) - then.get(p, 0), p) for p in set(now) | set(then)
        if now.get(p, 0) != then.get(p, 0))
    for d, p in deltas:
        state = "" if p in now and p in then else (
            " (new)" if p in now else " (deleted)")
        print(f"{d:+6d}  {p}{state}")
    a, b = sum(then.values()), sum(now.values())
    print(f"src/main Scala lines: {a:,} at {rev} -> {b:,} in the tree "
          f"({b - a:+,})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
