#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines.

A line counts unless it is blank, a `//` line comment, or lies wholly
inside a `/* ... */` block comment (Scaladoc included). Code that shares
a line with a comment counts.

Usage:
  python3 tools/loc.py [dir ...]     # default: src/main
Prints one "<lines>  <file>" row per file, then the total.
"""
import os
import sys


def count(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                end = line.find("*/")
                if end < 0:
                    continue
                in_block = False
                line = line[end + 2:].strip()
            while line.startswith("/*"):
                end = line.find("*/", 2)
                if end < 0:
                    in_block = True
                    line = ""
                    break
                line = line[end + 2:].strip()
            if line and not line.startswith("//"):
                n += 1
    return n


def main(dirs):
    total = 0
    for d in dirs:
        for root, _, files in sorted(os.walk(d)):
            for name in sorted(files):
                if name.endswith(".scala"):
                    path = os.path.join(root, name)
                    n = count(path)
                    total += n
                    print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:] or ["src/main"])
