#!/usr/bin/env python3
"""Line and code-line counts of the Scala and Java sources.

    python3 tools/loc.py [--rev REV] [PATH ...]

Counts every .scala and .java file under the PATHs (default: the current
directory) in the working tree, or, with --rev, at a git revision.
Working-tree files are the ones git tracks or would track (untracked
files not ignored by .gitignore count; build output does not).

A code line is one that is not blank and, after its indentation, does
not start with `//`, `/**` or `*`. A `/*` block comment's inner lines
that start otherwise count as code, as do lines with trailing comments.

Prints one row per file, then one per directory at or below a PATH
(the totals of every file below it), then the total:
`lines  code  path`.
"""
import argparse
import os
import subprocess
import sys
from collections import defaultdict
from pathlib import PurePosixPath

SUFFIXES = (".scala", ".java")
COMMENT_STARTS = ("//", "/**", "*")


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def source_files(rev, paths):
    if rev:
        names = git("ls-tree", "-r", "--name-only", rev, "--", *paths)
    else:
        names = git("ls-files", "--cached", "--others", "--exclude-standard",
                    "--", *paths)
    files = [f for f in names.splitlines() if f.endswith(SUFFIXES)]
    if not rev:  # tracked but deleted in the working tree
        files = [f for f in files if os.path.isfile(f)]
    return sorted(files)


def read(rev, path):
    if rev:
        return git("show", f"{rev}:./{path}")
    with open(path, encoding="utf-8") as f:
        return f.read()


def count(text):
    lines = text.splitlines()
    code = sum(1 for ln in lines
               if ln.strip() and not ln.strip().startswith(COMMENT_STARTS))
    return len(lines), code


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", help="git revision to count (default: working tree)")
    ap.add_argument("paths", nargs="*", default=["."])
    args = ap.parse_args()

    files = source_files(args.rev, args.paths)
    if not files:
        sys.exit(f"no .scala or .java files under {' '.join(args.paths)}")
    per_file = {f: count(read(args.rev, f)) for f in files}
    roots = [PurePosixPath(os.path.normpath(p)) for p in args.paths]
    per_dir = defaultdict(lambda: [0, 0])
    for f, (lines, code) in per_file.items():
        for d in PurePosixPath(f).parents:
            if str(d) != "." and any(d == r or r in d.parents for r in roots):
                per_dir[str(d) + "/"][0] += lines
                per_dir[str(d) + "/"][1] += code

    row = "{:>7} {:>7}  {}".format
    print(row("lines", "code", "path"))
    for f, (lines, code) in per_file.items():
        print(row(lines, code, f))
    for d in sorted(per_dir):
        print(row(*per_dir[d], d))
    print(row(sum(n for n, _ in per_file.values()),
              sum(c for _, c in per_file.values()), "total"))


if __name__ == "__main__":
    main()
