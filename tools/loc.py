#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala source.

    python3 tools/loc.py [path ...]        (default: src/main/scala)

A path may be a file or a directory (walked for `*.scala`). Prints one
line per file, then the total. A line counts unless it is blank, a `//`
line comment, or inside a `/* ... */` block comment (scaladoc included);
code that shares a line with the end of a block comment still counts.
"""
import os
import sys


def count_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                if "*/" not in s:
                    continue
                in_block = False
                s = s.split("*/", 1)[1].strip()
            elif s.startswith("/*"):
                rest = s[2:]
                if "*/" not in rest:
                    in_block = True
                    continue
                s = rest.split("*/", 1)[1].strip()
            if s and not s.startswith("//"):
                n += 1
    return n


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for d, _, names in os.walk(path):
        found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def main(argv):
    paths = argv or ["src/main/scala"]
    total = 0
    for p in paths:
        if not os.path.exists(p):
            sys.exit(f"loc.py: no such path: {p}")
        for f in scala_files(p):
            c = count_lines(f)
            total += c
            print(f"{c:8d}  {f}")
    print(f"{total:8d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
