#!/usr/bin/env python3
"""Count code lines: non-blank lines that are not comments.

Prints one `<count>  <file>` line per source file under the given paths,
then `<total>  total`. A line counts when, outside `/* ... */` blocks
(scaladoc included), it holds anything besides a `//` comment. A line
with code before a trailing comment counts. String literals are not
parsed: a `/*` inside a string is rare enough in this tree to ignore.

usage:
  python3 tools/code_lines.py [paths...]            # working tree, default src/main
  python3 tools/code_lines.py --rev <git-rev> [paths...]
      # the same count over the files committed at <git-rev>, so a change
      # and its parent can be compared without a second checkout
"""
import argparse
import os
import subprocess
import sys

EXTS = (".scala", ".java", ".py")


def code_lines(text: str, ext: str) -> int:
    if ext == ".py":
        return sum(1 for l in text.splitlines()
                   if l.strip() and not l.strip().startswith("#"))
    n = 0
    in_block = False
    for line in text.splitlines():
        rest = line.strip()
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    rest = ""
                else:
                    in_block = False
                    rest = rest[end + 2:].strip()
            elif rest.startswith("//"):
                rest = ""
            elif rest.startswith("/*"):
                in_block = True
                rest = rest[2:]
            else:
                n += 1
                # a block opened after code on this line still opens
                start = rest.find("/*")
                if start >= 0 and "*/" not in rest[start + 2:] and "//" not in rest[:start]:
                    in_block = True
                rest = ""
    return n


def files_at_rev(rev: str, paths):
    out = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--", *paths],
                         check=True, capture_output=True, text=True).stdout
    for name in sorted(out.splitlines()):
        if name.endswith(EXTS):
            blob = subprocess.run(["git", "show", f"{rev}:{name}"], check=True,
                                  capture_output=True, text=True).stdout
            yield name, blob


def files_on_disk(paths):
    found = []
    for p in paths:
        if os.path.isfile(p):
            found.append(p)
        for root, _, names in os.walk(p):
            found.extend(os.path.join(root, n) for n in names)
    for name in sorted(set(found)):
        if name.endswith(EXTS):
            with open(name, encoding="utf-8") as f:
                yield name, f.read()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rev", help="count the files committed at this git revision")
    ap.add_argument("paths", nargs="*", default=["src/main"])
    args = ap.parse_args()
    source = files_at_rev(args.rev, args.paths) if args.rev else files_on_disk(args.paths)
    total = 0
    for name, text in source:
        n = code_lines(text, os.path.splitext(name)[1])
        total += n
        print(f"{n:7d}  {name}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
