#!/usr/bin/env python3
"""Count code lines in Scala sources.

Usage: python3 tools/loc.py [dir_or_file ...]   (default: src/main)

Prints one line per .scala file (code lines, path) and a total. A line
counts as code when anything other than whitespace remains after
removing `//` line comments and `/* ... */` block comments (nested, as
Scala allows). Comment markers inside string literals, including
triple-quoted strings, are not comments.
"""
import os
import sys


def code_lines(text):
    """Number of lines holding at least one non-comment, non-blank char."""
    n = 0
    depth = 0          # block-comment nesting
    string = None      # None, '"' or '"""'
    has_code = False
    i, end = 0, len(text)
    while i < end:
        c = text[i]
        if c == "\n":
            n += has_code
            has_code = False
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if string == '"""':
            if not c.isspace():
                has_code = True
            if text.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i
                while j < end and text[j] == '"':
                    j += 1
                string = None
                i = j
            else:
                i += 1
            continue
        if string == '"':
            has_code = True
            if c == "\\":
                i += 2
            elif c == '"':
                string = None
                i += 1
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < end and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if text.startswith('"""', i):
            string = '"""'
            has_code = True
            i += 3
            continue
        if c == '"':
            string = '"'
            has_code = True
            i += 1
            continue
        if c == "'" and i + 2 < end and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # char literal: 'x' or an escape such as '\n' / '\''
            j = text.find("'", i + 2 if text[i + 1] != "\\" else i + 3)
            has_code = True
            i = j + 1 if j > 0 else i + 1
            continue
        if not c.isspace():
            has_code = True
        i += 1
    return n + has_code


def scala_files(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for root, dirs, files in os.walk(p):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(root, f)


def main(argv):
    paths = argv or ["src/main"]
    total = 0
    for f in scala_files(paths):
        with open(f, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:6d}  {f}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
