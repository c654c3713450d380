#!/usr/bin/env python3
"""Count code lines in Scala sources: non-blank lines that hold something
outside `//` line comments and (nested) `/* */` block comments.

String literals ("...", \"\"\"...\"\"\" and char literals) are lexed so that
a `//` or `/*` inside a string does not start a comment.

Usage:
    python3 tools/code_lines.py [path ...]

Each path is a .scala file or a directory searched recursively; the
default is src/main/scala. Prints one "<lines>  <file>" row per file,
sorted by path, then "<lines>  total".
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` with at least one non-blank character
    outside comments (string contents count as code)."""
    count = 0
    depth = 0          # block-comment nesting depth (Scala nests them)
    in_triple = False  # inside a triple-quoted string
    for line in text.split("\n"):
        has_code = False
        i, n = 0, len(line)
        while i < n:
            if depth > 0:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                has_code = True
                end = line.find('"""', i)
                if end < 0:
                    i = n
                else:
                    i = end + 3
                    while i < n and line[i] == '"':
                        i += 1
                    in_triple = False
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_triple = True
                i += 3
            elif line[i] == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and (line.startswith("\\", i + 1) or
                                     line.startswith("'", i + 2)):
                has_code = True
                end = line.find("'", i + 2 if line[i + 1] != "\\" else i + 3)
                i = n if end < 0 else end + 1
            else:
                if not line[i].isspace():
                    has_code = True
                i += 1
        if has_code:
            count += 1
    return count


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                for name in names:
                    if name.endswith(".scala"):
                        yield os.path.join(root, name)
        else:
            yield p


def main(argv):
    paths = argv[1:] or ["src/main/scala"]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        sys.exit("code_lines.py: no such path: " + ", ".join(missing))
    total = 0
    for f in sorted(set(scala_files(paths))):
        with open(f, encoding="utf-8") as fh:
            k = code_lines(fh.read())
        total += k
        print(f"{k:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv)
