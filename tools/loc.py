#!/usr/bin/env python3
"""Count code, comment and blank lines of the Scala sources.

    python3 tools/loc.py                 # per file and totals for src/main and src/test
    python3 tools/loc.py --base <rev>    # plus the delta against git revision <rev>,
                                         # for the changed files and the totals

Line rule (one category per physical line):
  - blank:   only whitespace;
  - comment: the line, stripped, starts with `//`, or the line lies in a
             `/* ... */` block (the lines that open and close it included),
             unless code follows the closing `*/` on the same line;
  - code:    every other line, including a code line that ends in a
             trailing `// ...` comment.
String literals are not parsed: a `/*` inside a string on a line that
starts with code is ignored only because the line already counts as code.

With `--base`, the base revision's files are read with `git show <rev>:<path>`,
so no checkout is needed.

Files named in SEPARATE (the ScaleSmoke measurement main, which moved from
src/main to src/test) are totalled on their own row, in neither root, so a
move shows as no change to either root and only lines deleted from the file
show in its row. With `--base`, the last line prints the src/main code lines
deleted since the base, as a positive number.
"""

import argparse
import os
import subprocess
import sys
from pathlib import Path

ROOTS = ("src/main", "src/test")
SEPARATE = ("ScaleSmoke.scala",)


def classify(text):
    """(code, comment, blank) line counts of one Scala source."""
    code = comment = blank = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            end = s.find("*/")
            if end < 0:
                comment += 1
                continue
            in_block = False
            rest = s[end + 2:].strip()
            if rest and not rest.startswith("//"):
                code += 1
            else:
                comment += 1
            continue
        if not s:
            blank += 1
        elif s.startswith("//"):
            comment += 1
        elif s.startswith("/*"):
            end = s.find("*/", 2)
            if end < 0:
                in_block = True
                comment += 1
            elif s[end + 2:].strip() and not s[end + 2:].strip().startswith("//"):
                code += 1
            else:
                comment += 1
        else:
            code += 1
    return code, comment, blank


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def worktree_files():
    return {str(p): p.read_text(encoding="utf-8")
            for root in ROOTS for p in sorted(Path(root).rglob("*.scala"))}


def revision_files(rev):
    names = git("ls-tree", "-r", "--name-only", rev, "--", *ROOTS).split()
    return {n: git("show", f"{rev}:{n}") for n in names if n.endswith(".scala")}


def counts(files):
    return {path: classify(text) for path, text in files.items()}


def root_of(path):
    name = os.path.basename(path)
    if name in SEPARATE:
        return name
    return next(r for r in ROOTS if path.startswith(r + "/"))


def totals(per_file):
    out = {r: [0, 0, 0] for r in ROOTS + SEPARATE}
    for path, c in per_file.items():
        out[root_of(path)] = [a + b for a, b in zip(out[root_of(path)], c)]
    return out


def fmt(c):
    return f"{c[0]:>7} {c[1]:>7} {c[2]:>6}"


def fmt_delta(c):
    return f"{c[0]:>+7} {c[1]:>+7} {c[2]:>+6}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", help="git revision to print the delta against")
    args = ap.parse_args()

    os.chdir(git("rev-parse", "--show-toplevel").strip())

    head = counts(worktree_files())
    base = counts(revision_files(args.base)) if args.base else None
    zero = (0, 0, 0)

    header = f"{'code':>7} {'comment':>7} {'blank':>6}"
    if base is not None:
        header += f"  {'Δcode':>7} {'Δcomment':>7} {'Δblank':>6}"
    print(f"{header}  file")

    def row(c, b, name):
        line = fmt(c)
        if base is not None:
            line += "  " + fmt_delta([x - y for x, y in zip(c, b)])
        print(f"{line}  {name}")

    for p in sorted(set(head) | set(base or {})):
        c, b = head.get(p, zero), (base or {}).get(p, zero)
        if base is None:
            row(c, b, p)
        elif c != b:
            row(c, b, p if p in head else f"{p} (deleted)")
    ht, bt = totals(head), totals(base or {})
    for r in ROOTS:
        row(ht[r], bt[r], f"TOTAL {r}")
    for r in SEPARATE:
        row(ht[r], bt[r], f"TOTAL {r} (in neither root)")
    if base is not None:
        print(f"src/main code lines deleted: {bt['src/main'][0] - ht['src/main'][0]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
