#!/usr/bin/env python3
"""Count code lines that repeat an earlier copy in the main Scala sources.

A code line is a trimmed source line that is not blank, not a comment
(`//` lines and `/* ... */` blocks) and not an `import` or `package`
line. The scan slides a window of 4 consecutive code lines over every
file, reading the files in sorted path order. A window whose lines total
at least 120 characters and whose exact text was seen earlier (in the
same file or an earlier one) marks its 4 lines as repeated.

Usage: python3 tools/dup_scan.py [ROOT] [--clusters N]

ROOT defaults to src/main/scala. Prints one JSON line
{"code_lines", "repeated_lines"}, then the N largest clusters (default
all): each maximal stretch of repeated lines, with its file:line range
and the file:line of the earlier copy its first window repeats.
"""
import json
import os
import sys

WINDOW = 4
MIN_CHARS = 120


def code_lines(path):
    """(line number, trimmed text) of each code line of one file."""
    out, in_block = [], False
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            s = raw.strip()
            if in_block:
                if "*/" not in s:
                    continue
                in_block = False
                s = s.split("*/", 1)[1].strip()
            if s.startswith("/*"):
                if "*/" not in s:
                    in_block = True
                    continue
                s = s.split("*/", 1)[1].strip()
            if not s or s.startswith("//") or s.startswith(("import ", "package ")):
                continue
            out.append((no, s))
    return out


def scan(root):
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                   for f in fs if f.endswith(".scala"))
    first, total, repeated, clusters = {}, 0, 0, []
    for path in paths:
        lines = code_lines(path)
        total += len(lines)
        marked = [None] * len(lines)  # origin of the window that marked the line
        for k in range(len(lines) - WINDOW + 1):
            win = tuple(s for _, s in lines[k:k + WINDOW])
            if sum(map(len, win)) < MIN_CHARS:
                continue
            if win in first:
                for j in range(k, k + WINDOW):
                    marked[j] = marked[j] or first[win]
            else:
                first[win] = f"{path}:{lines[k][0]}"
        repeated += sum(m is not None for m in marked)
        k = 0
        while k < len(lines):
            if marked[k] is None:
                k += 1
                continue
            j = k
            while j + 1 < len(lines) and marked[j + 1] is not None:
                j += 1
            clusters.append({"lines": j - k + 1,
                             "at": f"{path}:{lines[k][0]}-{lines[j][0]}",
                             "copy_of": marked[k]})
            k = j + 1
    clusters.sort(key=lambda c: (-c["lines"], c["at"]))
    return total, repeated, clusters


def main(argv):
    args, limit = [], None
    it = iter(argv)
    for a in it:
        if a == "--clusters":
            limit = int(next(it))
        else:
            args.append(a)
    root = args[0] if args else "src/main/scala"
    total, repeated, clusters = scan(root)
    print(json.dumps({"code_lines": total, "repeated_lines": repeated}))
    for c in clusters[:limit]:
        print(f"{c['lines']:4d}  {c['at']}  copy of {c['copy_of']}")


if __name__ == "__main__":
    main(sys.argv[1:])
