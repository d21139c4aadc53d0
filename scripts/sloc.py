#!/usr/bin/env python3
"""Code-line counter for the Scala sources.

Counts the lines that hold code: not blank, not a `//` comment line,
and not inside a `/* ... */` block or a Scaladoc comment. A line that
has code before a comment opens, or after one closes, counts.

Usage:

    scripts/sloc.py FILE[:START-END] ...

START and END are 1-based and inclusive. Prints one count per
argument, then the total when there is more than one."""
import sys


def code_lines(lines):
    n = 0
    in_block = False
    for line in lines:
        code = False
        i = 0
        s = line.rstrip("\n")
        while i < len(s):
            if in_block:
                end = s.find("*/", i)
                if end < 0:
                    break
                in_block = False
                i = end + 2
                continue
            rest = s[i:].lstrip()
            if not rest or rest.startswith("//"):
                break
            if rest.startswith("/*"):
                in_block = True
                i = s.index("/*", i) + 2
                continue
            code = True
            # skip to the next comment opener outside a string literal
            j = i
            in_str = False
            while j < len(s):
                c = s[j]
                if c == '"':
                    in_str = not in_str
                elif not in_str and s.startswith("/*", j):
                    break
                elif not in_str and s.startswith("//", j):
                    j = len(s)
                    break
                j += 1
            i = j
        if code:
            n += 1
    return n


def count(arg):
    path, _, rng = arg.partition(":")
    with open(path) as f:
        lines = f.readlines()
    if rng:
        start, _, end = rng.partition("-")
        lines = lines[int(start) - 1:int(end)]
    return code_lines(lines)


def main(args):
    if not args:
        print(__doc__)
        return 2
    total = 0
    for a in args:
        c = count(a)
        total += c
        print(f"{c:6d}  {a}")
    if len(args) > 1:
        print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
