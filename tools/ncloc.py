#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala source.

    python3 tools/ncloc.py [--base REV] PATH [PATH ...]

Each PATH is a .scala file or a directory searched recursively for
.scala files. Prints one "<count>  <path>" line per file, then the
total. With `--base REV` it also counts the same paths as committed
at git revision REV (read with `git show REV:path`, so no second
checkout is needed) and prints "<base>  <now>  <delta>  <path>" per
file present on either side, then the totals; a file on one side only
counts 0 on the other.

A line counts when any code is on it: a line holding only
whitespace, a `//` comment, or text inside a `/* ... */` block
(scaladoc `/** ... */` included; Scala block comments nest) does not
count, while a code line with a trailing comment does. Comment markers
inside string and character literals, including multi-line `\"\"\"`
strings, are not comments.
"""
import os
import subprocess
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


def git(*args):
    return subprocess.run(("git",) + args, check=True,
                          capture_output=True, text=True).stdout


def base_counts(rev, paths):
    """{path as given on the command line: count} at revision `rev`."""
    top = git("rev-parse", "--show-toplevel").strip()
    counts = {}
    for path in paths:
        rel = os.path.relpath(os.path.abspath(path), top)
        for f in git("-C", top, "ls-tree", "-r", "--name-only", rev,
                     "--", rel).splitlines():
            if f.endswith(".scala"):
                text = subprocess.run(("git", "-C", top, "show",
                                       f"{rev}:{f}"), check=True,
                                      capture_output=True).stdout
                shown = os.path.relpath(os.path.join(top, f))
                counts[shown] = count_code_lines(text.decode("utf-8"))
    return counts


def main(args):
    rev = None
    if args[:1] == ["--base"] and len(args) > 1:
        rev, args = args[1], args[2:]
    if not args:
        sys.exit(__doc__.strip())
    now = {}
    for path in args:
        for f in scala_files(path):
            with open(f, encoding="utf-8") as fh:
                now[f] = count_code_lines(fh.read())
    if rev is None:
        for f, c in now.items():
            print(f"{c:7d}  {f}")
        print(f"{sum(now.values()):7d}  total")
        return
    now = {os.path.relpath(f): c for f, c in now.items()}
    base = base_counts(rev, args)
    for f in sorted(set(now) | set(base)):
        b, c = base.get(f, 0), now.get(f, 0)
        print(f"{b:7d}  {c:7d}  {c - b:+7d}  {f}")
    b, c = sum(base.values()), sum(now.values())
    print(f"{b:7d}  {c:7d}  {c - b:+7d}  total (base {rev})")


if __name__ == "__main__":
    main(sys.argv[1:])
