#!/usr/bin/env python3
"""Count code lines in the Scala sources under a path.

Strips `/* ... */` block comments (scaladoc included) and `//` line
comments to the end of the line, then counts the non-blank lines left
over every `.scala` file below the path. String literals are not
parsed, so a `//` inside a string ends the counted part of that line;
the count stays comparable across commits because it is applied the
same way to both.

Usage: python3 scripts/loc.py [path ...]   (default: src/main)
Prints one line per path: `<count> <path>`.
"""
import os
import re
import sys

BLOCK = re.compile(r"/\*.*?\*/", re.S)
LINE = re.compile(r"//.*")


def code_lines(text):
    text = BLOCK.sub("", text)
    return sum(1 for ln in text.splitlines() if LINE.sub("", ln).strip())


def count(path):
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.endswith(".scala"):
                with open(os.path.join(root, name), encoding="utf-8") as f:
                    total += code_lines(f.read())
    return total


if __name__ == "__main__":
    for p in sys.argv[1:] or ["src/main"]:
        print(count(p), p)
