#!/usr/bin/env python3
"""Count main-code lines: non-blank, non-comment lines of src/main/**/*.scala.

A line is skipped when it is blank, starts with `//`, or lies inside a
`/* ... */` block (scaladoc `/** ... */` included). A line that holds code
before or after a comment counts as code.

Usage: python3 tools/loc.py [repo_root]
Prints one `<count> <path>` line per file, then `<total> total`.
"""
import pathlib
import sys


def code_lines(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        while s:
            if in_block:
                end = s.find("*/")
                if end < 0:
                    s = ""
                else:
                    in_block = False
                    s = s[end + 2:].strip()
            elif s.startswith("//"):
                s = ""
            elif s.startswith("/*"):
                in_block = True
                s = s[2:]
            else:
                n += 1
                break
    return n


def main(root):
    base = pathlib.Path(root)
    files = sorted((base / "src" / "main").rglob("*.scala"))
    total = 0
    for f in files:
        n = code_lines(f.read_text(encoding="utf-8"))
        total += n
        print(f"{n:6d} {f.relative_to(base)}")
    print(f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else ".")
