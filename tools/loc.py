#!/usr/bin/env python3
"""Count the code lines of Scala files.

A code line is a line that holds anything besides whitespace and
comments: blank lines, `//` lines and the lines of `/* ... */` and
scaladoc blocks do not count, a line of code with a trailing comment
does. String literals are skipped as strings, so a `//` or `/*` inside
one starts no comment. Block comments nest, as they do in Scala.

Usage: python3 tools/loc.py FILE.scala [FILE.scala ...]
Prints one `<count> <file>` line per file, then `<count> total`.
"""
import sys


def code_lines(src):
    """Number of lines of `src` that hold code outside comments."""
    counted = set()
    line = 0
    depth = 0  # block-comment nesting
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        two = src[i:i + 2]
        if c == "\n":
            line += 1
            i += 1
        elif depth > 0:
            if two == "/*":
                depth += 1
                i += 2
            elif two == "*/":
                depth -= 1
                i += 2
            else:
                i += 1
        elif two == "//":
            while i < n and src[i] != "\n":
                i += 1
        elif two == "/*":
            depth = 1
            i += 2
        elif c.isspace():
            i += 1
        elif src.startswith('"""', i):
            counted.add(line)
            end = src.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and src[end] == '"':  # a closing quote run
                end += 1
            for _ in range(src.count("\n", i, end)):
                line += 1
                counted.add(line)
            i = end
        elif c == '"':
            counted.add(line)
            i += 1
            while i < n and src[i] not in '"\n':
                i += 2 if src[i] == "\\" else 1
            i += 1
        elif c == "'" and (src[i + 2:i + 3] == "'" or src[i + 1:i + 2] == "\\"):
            counted.add(line)  # a char literal, '"' or '\n' included
            end = src.find("'", i + 2 if src[i + 1] != "\\" else i + 3)
            i = n if end < 0 else end + 1
        else:
            counted.add(line)
            i += 1
    return len(counted)


def main(paths):
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for p in paths:
        with open(p, encoding="utf-8") as f:
            k = code_lines(f.read())
        total += k
        print(f"{k} {p}")
    print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
