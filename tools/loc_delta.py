#!/usr/bin/env python3
"""Count Scala code lines added and removed between two git revisions.

Usage: tools/loc_delta.py <base> <head> [paths...]

Reads `git diff -U0 <base> <head> -- <paths>` (default paths: src/main
src/test) and counts, per .scala file, the changed lines that are
neither blank nor comments (`//`, `/*`, `*`, `*/` after leading
whitespace). A line whose only change is its indentation counts on both
sides: once removed, once added. Prints added, removed and net per file,
then a total.
"""
import subprocess
import sys

COMMENT_PREFIXES = ("//", "/*", "*")


def is_code(line):
    s = line.strip()
    return bool(s) and not s.startswith(COMMENT_PREFIXES)


def diff_counts(base, head, paths):
    out = subprocess.run(
        ["git", "diff", "-U0", "--no-color", "--no-ext-diff", base, head,
         "--"] + paths,
        check=True, capture_output=True, text=True).stdout
    counts = {}  # file -> [added, removed]
    path = None
    for line in out.splitlines():
        if line.startswith("diff --git "):
            # `diff --git a/<old> b/<new>`: the new name, or the old one
            # for a deleted file (its b/ side still names it)
            path = line.split(" b/", 1)[1]
            continue
        if path is None or not path.endswith(".scala"):
            continue
        if line.startswith(("+++", "---", "@@")):
            continue
        if line.startswith("+") and is_code(line[1:]):
            counts.setdefault(path, [0, 0])[0] += 1
        elif line.startswith("-") and is_code(line[1:]):
            counts.setdefault(path, [0, 0])[1] += 1
    return counts


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    base, head = argv[1], argv[2]
    paths = argv[3:] or ["src/main", "src/test"]
    counts = diff_counts(base, head, paths)
    width = max([len(p) for p in counts] + [len("total")])
    print(f"{'file':<{width}}  {'added':>7}  {'removed':>7}  {'net':>7}")
    total_add = total_rem = 0
    for p in sorted(counts):
        a, r = counts[p]
        total_add += a
        total_rem += r
        print(f"{p:<{width}}  {a:>7}  {r:>7}  {a - r:>+7}")
    print(f"{'total':<{width}}  {total_add:>7}  {total_rem:>7}  "
          f"{total_add - total_rem:>+7}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
