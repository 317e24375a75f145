#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala source.

    python3 tools/ncloc.py PATH [PATH ...]

Each PATH is a .scala file or a directory searched recursively for
.scala files. Prints one "<count>  <path>" line per file, then the
total. A line counts when any code is on it: a line holding only
whitespace, a `//` comment, or text inside a `/* ... */` block
(scaladoc `/** ... */` included; Scala block comments nest) does not
count, while a code line with a trailing comment does. Comment markers
inside string and character literals, including multi-line `\"\"\"`
strings, are not comments.
"""
import os
import sys


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for root, _, names in os.walk(path):
        found += [os.path.join(root, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def count_code_lines(text):
    depth = 0            # open /* */ comments (they nest in Scala)
    in_triple = False    # inside a """ string
    count = 0
    for line in text.splitlines():
        code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            elif in_triple:
                code = True
                if line.startswith('"""', i):
                    in_triple, i = False, i + 3
                else:
                    i += 1
            elif line[i].isspace():
                i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth, i = 1, i + 2
            elif line.startswith('"""', i):
                code, in_triple, i = True, True, i + 3
            elif line[i] == '"':
                code, i = True, i + 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'":
                # 'c', '\n' or '\'' — anything else is a symbol or a
                # type-lambda quote, which holds no comment markers
                code = True
                if line.startswith("\\", i + 1):
                    end = line.find("'", i + 3)
                    i = n if end < 0 else end + 1
                elif line.startswith("'", i + 2):
                    i += 3
                else:
                    i += 1
            else:
                code, i = True, i + 1
        count += code
    return count


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    total = 0
    for path in paths:
        for f in scala_files(path):
            with open(f, encoding="utf-8") as fh:
                c = count_code_lines(fh.read())
            total += c
            print(f"{c:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
