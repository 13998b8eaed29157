#!/usr/bin/env python3
"""Count code lines in Scala sources: non-blank lines that are not
entirely comment. Block comments (`/* ... */`, scaladoc included) are
skipped whole; a line with code before or after a comment counts.

    python3 tools/code_lines.py src/main
    python3 tools/code_lines.py src/main/scala/graft/streaming/Events.scala

Each argument is a file or a directory (searched for *.scala); the
script prints one total over all of them.
"""
import argparse
import os
import sys


def code_lines(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        code = False
        i = 0
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    break
                in_block = False
                i = end + 2
            elif line.startswith("/*", i):
                in_block = True
                i += 2
            elif line.startswith("//", i):
                break
            elif line[i].isspace():
                i += 1
            else:
                # code: the rest of the line cannot un-count it
                code = True
                break
        n += code
    return n


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _, names in os.walk(path):
        out += [os.path.join(root, f) for f in names if f.endswith(".scala")]
    return sorted(out)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("paths", nargs="+")
    a = p.parse_args()
    total = 0
    for path in a.paths:
        if not os.path.exists(path):
            sys.exit(f"no such file or directory: {path}")
        for f in scala_files(path):
            with open(f, encoding="utf-8") as fh:
                total += code_lines(fh.read())
    print(total)


if __name__ == "__main__":
    main()
