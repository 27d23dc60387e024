#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala source.

Usage: loc.py [ROOT] [--ref GIT_REF]

ROOT defaults to `src/main` under the repository this script lives in.
Every `*.scala` file below ROOT is counted; a line counts unless it is
blank, a `//` line, or part of a `/* ... */` block (scaladoc included).
A line that closes a block and continues with code still counts. Prints
one `<lines>  <path>` row per file, largest first, then the total.

With `--ref`, the files are read from that git commit instead of the
working tree (e.g. `loc.py --ref HEAD~1`), so two revisions compare by
the same method without a checkout.
"""
import argparse
import os
import subprocess
import sys


def code_lines(text):
    """Non-blank, non-comment lines of one Scala source."""
    n = 0
    in_block = False
    for raw in text.splitlines():
        s = raw.strip()
        if in_block:
            if "*/" not in s:
                continue
            in_block = False
            s = s.split("*/", 1)[1].strip()
        elif s.startswith("/*"):
            if "*/" in s[2:]:
                s = s[2:].split("*/", 1)[1].strip()
            else:
                in_block = True
                continue
        if s and not s.startswith("//"):
            n += 1
    return n


def sources(root, ref):
    """(path, text) of every .scala file under root, at ref if given."""
    if ref is None:
        for d, _, files in os.walk(root):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8") as fh:
                        yield p, fh.read()
        return
    names = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", ref, "--", root],
        check=True, capture_output=True, text=True).stdout.split()
    for p in names:
        if p.endswith(".scala"):
            yield p, subprocess.run(
                ["git", "show", f"{ref}:{p}"], check=True,
                capture_output=True, text=True).stdout


def main():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?",
                    default=os.path.join(here, "src", "main"))
    ap.add_argument("--ref", default=None)
    args = ap.parse_args()
    # paths relative to the repository root: git wants them so for --ref
    root = os.path.relpath(os.path.abspath(args.root), here)
    os.chdir(here)
    counts = sorted(((code_lines(t), p) for p, t in
                     sources(root, args.ref)), reverse=True)
    if not counts:
        sys.exit(f"loc.py: no .scala files under {root}")
    for n, p in counts:
        print(f"{n:7d}  {p}")
    print(f"{sum(n for n, _ in counts):7d}  total ({len(counts)} files)")


if __name__ == "__main__":
    main()
