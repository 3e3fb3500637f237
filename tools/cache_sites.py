#!/usr/bin/env python3
"""Count the lines of the program that name a way of holding intermediate
state: `.persist(`, `Caches.register`, `localCheckpoint`, `parquetHandoff`
and `standingParquet`.

Each pattern's count is the number of lines that name it, so a line naming
two patterns counts once under each. The "code" column leaves out comment
text: `//` comments and everything inside `/* ... */` (Scaladoc included).

Usage: python3 tools/cache_sites.py [src_dir]   (default: src/main/scala)
"""
import os
import re
import sys

PATTERNS = [".persist(", "Caches.register", "localCheckpoint",
            "parquetHandoff", "standingParquet"]


def code_text(line, in_block):
    """`line` with its comment text removed, and whether a block comment
    is still open at its end. String literals are not parsed: no pattern
    appears inside one in this code base."""
    out = []
    i = 0
    while i < len(line):
        if in_block:
            end = line.find("*/", i)
            if end < 0:
                return "".join(out), True
            i, in_block = end + 2, False
        elif line.startswith("//", i):
            break
        elif line.startswith("/*", i):
            in_block, i = True, i + 2
        else:
            out.append(line[i])
            i += 1
    return "".join(out), in_block


def count(root):
    total = {p: 0 for p in PATTERNS}
    code = {p: 0 for p in PATTERNS}
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            if not name.endswith(".scala"):
                continue
            in_block = False
            with open(os.path.join(dirpath, name), encoding="utf-8") as fh:
                for line in fh:
                    text, in_block = code_text(line, in_block)
                    for p in PATTERNS:
                        if p in line:
                            total[p] += 1
                        if p in text:
                            code[p] += 1
    return total, code


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "src", "main", "scala")
    total, code = count(root)
    print(f"{'pattern':<18} {'lines':>6} {'code':>6}")
    for p in PATTERNS:
        print(f"{p:<18} {total[p]:>6} {code[p]:>6}")
    print(f"{'all':<18} {sum(total.values()):>6} {sum(code.values()):>6}")


if __name__ == "__main__":
    main()
