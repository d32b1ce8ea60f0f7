#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of the Scala sources.

Usage: python3 scripts/loc.py [root]   (root defaults to src/main)

Prints one line per .scala file under root, then the total. A line
counts when anything other than whitespace and comments is left on it:
`//` line comments and `/* ... */` block comments (Scaladoc included)
are removed first, and delimiters inside string literals are ignored.
This is the `src/main` size that ROADMAP north-star item 2 tracks.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that hold code once comments are removed."""
    count = 0
    depth = 0  # Scala block comments nest
    in_triple = False
    for line in text.splitlines():
        code = False
        i, n = 0, len(line)
        in_str = False
        while i < n:
            c, two = line[i], line[i:i + 2]
            if depth > 0:
                if two == "/*":
                    depth += 1
                    i += 2
                elif two == "*/":
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                code = True
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif in_str:
                code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = False
                    i += 1
                else:
                    i += 1
            elif two == "//":
                break
            elif two == "/*":
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                code = True
                in_triple = True
                i += 3
            elif c == '"':
                code = True
                in_str = True
                i += 1
            elif c == "'" and i + 2 < n and line[i + 2] == "'":
                code = True  # a char literal such as '"' or '/'
                i += 3
            else:
                if not c.isspace():
                    code = True
                i += 1
        if code:
            count += 1
    return count


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    total = 0
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            if not name.endswith(".scala"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as f:
                n = code_lines(f.read())
            total += n
            print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main()
