#!/usr/bin/env python3
"""Count the code lines of the program: every non-blank line of the Scala
and Java sources under src/main that is not part of a comment.

A line counts as comment when, stripped, it starts with `//`, or when it
lies in a block comment that starts a line (`/*` or `/**`) up to and
including the line that closes it with `*/`. A line with code before a
trailing comment counts as code.

Usage: python3 tools/src_lines.py [checkout root]
"""
import sys
from pathlib import Path


def code_lines(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            if "*/" in s:
                in_block = False
                if s.split("*/", 1)[1].strip():
                    n += 1
            continue
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            rest = s[2:]
            if "*/" not in rest:
                in_block = True
            elif rest.split("*/", 1)[1].strip():
                n += 1
            continue
        n += 1
    return n


def main():
    root = Path(sys.argv[1] if len(sys.argv) > 1 else ".")
    src = root / "src" / "main"
    if not src.is_dir():
        sys.exit(f"no src/main under {root}")
    total = sum(code_lines(p.read_text(encoding="utf-8"))
                for p in src.rglob("*")
                if p.suffix in (".scala", ".java") and p.is_file())
    print(f"src/main code lines: {total}")


if __name__ == "__main__":
    main()
