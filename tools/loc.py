#!/usr/bin/env python3
"""Count Scala lines under a source root, per file and in total.

Usage: python3 tools/loc.py [ROOT ...] [--total]

A ROOT is a directory (searched for .scala files) or a file; it
defaults to src/main. For each .scala file it prints two numbers:
  all   every line of the file, blank and comment lines included
  code  lines holding at least one character outside a comment
        (line comments, block comments and scaladoc, nested blocks
        included); blank lines do not count
--total prints only the total line.
"""
import os
import sys


def code_lines(text):
    """Lines of `text` with a non-blank character outside any comment."""
    count = 0
    has_code = False
    depth = 0          # nesting depth of /* */ blocks
    in_line = False    # inside a // comment
    string = None      # None, '"' or '"""'
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            count += has_code
            has_code = False
            in_line = False
            if string == '"':  # a plain string never spans lines
                string = None
            i += 1
            continue
        if in_line:
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
        elif string:
            has_code = True
            if string == '"""' and text.startswith('"""', i):
                string = None
                i += 3
            elif string == '"' and c == "\\":
                i += 2
            elif string == '"' and c == '"':
                string = None
                i += 1
            else:
                i += 1
        elif text.startswith("//", i):
            in_line = True
            i += 2
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif text.startswith('"""', i):
            string = '"""'
            has_code = True
            i += 3
        elif c == '"':
            string = '"'
            has_code = True
            i += 1
        elif c == "'" and i + 2 < n and text[i + 2] == "'":
            has_code = True  # a char literal such as '"' or '/'
            i += 3
        else:
            if not c.isspace():
                has_code = True
            i += 1
    return count + has_code


def main(argv):
    total_only = "--total" in argv
    roots = [a for a in argv if a != "--total"] or ["src/main"]
    paths = []
    for root in roots:
        if os.path.isfile(root):
            paths.append(root)
        for d, _, names in os.walk(root):
            paths += [os.path.join(d, m) for m in names if m.endswith(".scala")]
    rows = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            text = f.read()
        rows.append((p, len(text.splitlines()), code_lines(text)))
    rows.sort()
    if not total_only:
        print(f"{'all':>7} {'code':>7}  file")
        for p, a, c in rows:
            print(f"{a:>7} {c:>7}  {p}")
    print(f"{sum(r[1] for r in rows):>7} {sum(r[2] for r in rows):>7}  "
          f"total ({len(rows)} files)")


if __name__ == "__main__":
    main(sys.argv[1:])
