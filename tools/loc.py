#!/usr/bin/env python3
"""Count code lines of graft's Scala sources.

A code line is a line that holds anything outside comments: blank lines,
`//` comment lines, `/* ... */` blocks and scaladoc are not counted.
String literals (plain and triple-quoted) are skipped while scanning, so
a `//` or `/*` inside a string does not start a comment.

    python3 tools/loc.py                  # per src/main package, then the total
    python3 tools/loc.py FILE_OR_DIR ...  # per path, then the total
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")


def code_lines(text):
    """Number of lines of `text` with at least one character of code."""
    n = 0
    depth = 0  # Scala block comments nest
    in_str = None  # None, '"' or '"""'
    for line in text.split("\n"):
        code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_str:
                code = True
                if in_str == '"' and line[i] == "\\":
                    i += 2
                elif line.startswith(in_str, i):
                    i += len(in_str)
                    in_str = None
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                code = True
                in_str = '"""'
                i += 3
            elif line[i] == '"':
                code = True
                in_str = '"'
                i += 1
            elif line[i] == "'" and i + 2 < len(line) and line[i + 2] == "'":
                code = True  # a char literal such as '"'
                i += 3
            else:
                code = code or not line[i].isspace()
                i += 1
        if in_str == '"':
            in_str = None  # a plain string never spans lines
        n += code
    return n


def count(path, recurse=True):
    if os.path.isfile(path):
        with open(path, encoding="utf-8") as f:
            return code_lines(f.read())
    total = 0
    for d, _, files in os.walk(path):
        for name in files:
            if name.endswith(".scala"):
                total += count(os.path.join(d, name))
        if not recurse:
            break
    return total


def main(args):
    if args:
        rows = [(p, count(p)) for p in args]
    else:  # one row per package directory, its own files only
        rows = [(os.path.relpath(d, MAIN).replace(os.sep, "."),
                 count(d, recurse=False))
                for d, _, files in sorted(os.walk(MAIN))
                if any(f.endswith(".scala") for f in files)]
    for name, n in rows:
        print(f"{n:7d}  {name}")
    print(f"{sum(n for _, n in rows):7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
