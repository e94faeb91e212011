#!/usr/bin/env python3
"""Size of the engine's main code, tracked like a bench number.

Prints four numbers for src/main (Scala sources):
  lines       every line
  code_lines  non-blank lines outside comments (// line comments and
              /* ... */ blocks, scaladoc included)
  mains       files that define a `def main(`
  knobs       distinct SPARK_GRAFT_* environment knobs named in the code
and under them the names of the counted mains and knobs, so a change to
either shows by name.

Usage: python3 tools/loc.py [repo_root] [file ...]
With file arguments (paths relative to repo_root), code_lines also prints
the count over just those files.
"""
import os
import re
import sys


def code_lines(text):
    """Non-blank lines that hold code once comments are removed."""
    n = 0
    in_block = False
    for line in text.splitlines():
        code = []
        i = 0
        in_str = False
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    break
                in_block = False
                i = end + 2
                continue
            c = line[i]
            if in_str:
                if c == "\\":
                    code.append(line[i:i + 2])
                    i += 2
                    continue
                if c == '"':
                    in_str = False
                code.append(c)
                i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                in_block = True
                i += 2
                continue
            if c == '"':
                in_str = True
            code.append(c)
            i += 1
        if "".join(code).strip():
            n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    picked = sys.argv[2:]
    src = os.path.join(root, "src", "main")
    lines = code = 0
    mains = []
    knobs = set()
    for d, _, files in os.walk(src):
        for f in sorted(files):
            if not f.endswith(".scala"):
                continue
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                text = fh.read()
            lines += text.count("\n")
            code += code_lines(text)
            if re.search(r"\bdef main\(", text):
                mains.append(os.path.splitext(f)[0])
            knobs.update(re.findall(r"SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]", text))
    print(f"lines {lines}")
    print(f"code_lines {code}")
    print(f"mains {len(mains)}")
    print(f"knobs {len(knobs)}")
    print(f"mains: {' '.join(sorted(mains))}")
    print(f"knobs: {' '.join(sorted(knobs))}")
    if picked:
        n = 0
        for p in picked:
            with open(os.path.join(root, p), encoding="utf-8") as fh:
                n += code_lines(fh.read())
        print(f"code_lines[{' '.join(picked)}] {n}")


if __name__ == "__main__":
    main()
