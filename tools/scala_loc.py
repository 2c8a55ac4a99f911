#!/usr/bin/env python3
"""Count blank, comment and code lines of Scala sources, per source root
and package.

Usage: python3 tools/scala_loc.py [--rev REV] [root ...]

Roots default to src/main/scala and src/test/scala. With --rev, the
files are read from that git revision instead of the working tree, so
`--rev HEAD~1` and a plain run compare a change with its parent.

A line is blank if it holds only whitespace, comment if everything on it
that is not whitespace sits inside a `//` or (nested) `/* */` comment,
and code otherwise (a line of code with a trailing comment is code).
String and character literals are skipped, so `"//"` is not a comment.
The package is the file's directory under its root, dotted.
"""
import os
import re
import subprocess
import sys
from collections import defaultdict

CHAR = re.compile(r"'(?:\\[^']+|[^\\'])'")   # 'x', '"', '\n', '\u0000'


def classify(text):
    """(blank, comment, code) line counts of one Scala source."""
    blank = comment = code = 0
    depth = 0            # nesting depth of /* */ comments
    in_triple = False    # inside a """ string, which may span lines
    for line in text.splitlines():
        has_code = has_comment = False
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if in_triple:
                has_code = True
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif depth:
                has_comment = True
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif line.startswith("//", i):
                has_comment = True
                break
            elif line.startswith("/*", i):
                depth += 1
                has_comment = True
                i += 2
            elif line.startswith('"""', i):
                in_triple = True
                has_code = True
                i += 3
            elif c == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and CHAR.match(line, i):
                has_code = True
                i = CHAR.match(line, i).end()
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if has_code:
            code += 1
        elif has_comment:
            comment += 1
        else:
            blank += 1
    return blank, comment, code


def sources(root, rev):
    """(relative path, text) of every .scala file under root."""
    if rev:
        names = subprocess.run(
            ["git", "ls-tree", "-r", "--name-only", rev, "--", root],
            check=True, capture_output=True, text=True).stdout.split()
        for name in names:
            if name.endswith(".scala"):
                text = subprocess.run(["git", "show", f"{rev}:{name}"], check=True,
                                      capture_output=True, text=True).stdout
                yield os.path.relpath(name, root), text
        return
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, root), fh.read()


def main(argv):
    rev = None
    if argv[:1] == ["--rev"]:
        rev, argv = argv[1], argv[2:]
    roots = argv or ["src/main/scala", "src/test/scala"]
    print(f"{'root':<18} {'package':<28} {'files':>5} {'blank':>6} {'comment':>7} {'code':>6}")
    for root in roots:
        per = defaultdict(lambda: [0, 0, 0, 0])
        for rel, text in sources(root.rstrip("/"), rev):
            pkg = os.path.dirname(rel).replace(os.sep, ".") or "(root)"
            row = per[pkg]
            row[0] += 1
            for k, v in enumerate(classify(text)):
                row[k + 1] += v
        total = [sum(r[k] for r in per.values()) for k in range(4)]
        for pkg in sorted(per) + ["TOTAL"]:
            f, b, c, k = total if pkg == "TOTAL" else per[pkg]
            print(f"{root:<18} {pkg:<28} {f:>5} {b:>6} {c:>7} {k:>6}")


if __name__ == "__main__":
    main(sys.argv[1:])
