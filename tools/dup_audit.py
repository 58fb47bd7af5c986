#!/usr/bin/env python3
'''Count copy-pasted lines in the main Scala source, per file.

Usage: python3 tools/dup_audit.py [SRC_DIR]   (default: src/main)

A window is 6 consecutive code lines of one file: lines are trimmed,
and blank lines and comment lines (`//`, `/*`, `*`) are skipped before
windows are formed. Windows shorter than 120 characters in total are
ignored, so runs of closing braces and one-word lines never match. A
line is duplicated when it lies inside a window whose text occurs more
than once anywhere in the source tree (in the same file or another).
Lines starting with `|`, `"""` or `s"""` are counted as SQL (the
oracle queries' bodies); every other line counts as Scala.
'''
import collections
import os
import sys

WINDOW = 6
MIN_CHARS = 120
SQL_PREFIXES = ("|", '"""', 's"""')
COMMENT_PREFIXES = ("//", "/*", "*")


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        lines = (raw.strip() for raw in f)
        return [l for l in lines if l and not l.startswith(COMMENT_PREFIXES)]


def audit(src_dir):
    files = {}
    for root, _, names in os.walk(src_dir):
        for n in names:
            if n.endswith(".scala"):
                p = os.path.join(root, n)
                files[os.path.relpath(p, src_dir)] = code_lines(p)
    seen = collections.Counter()
    windows = []
    for name, lines in files.items():
        for i in range(len(lines) - WINDOW + 1):
            w = tuple(lines[i:i + WINDOW])
            if sum(map(len, w)) >= MIN_CHARS:
                seen[w] += 1
                windows.append((name, i, w))
    dup = collections.defaultdict(set)
    for name, i, w in windows:
        if seen[w] > 1:
            dup[name].update(range(i, i + WINDOW))
    report = {}
    for name, idx in dup.items():
        sql = sum(1 for i in idx if files[name][i].startswith(SQL_PREFIXES))
        report[name] = (len(idx) - sql, sql)
    return report


def main(src_dir="src/main"):
    report = audit(src_dir)
    print(f"{'scala':>6} {'sql':>6} {'total':>6}  file")
    for name, (scala, sql) in sorted(report.items(),
                                     key=lambda kv: (-kv[1][0], kv[0])):
        print(f"{scala:6d} {sql:6d} {scala + sql:6d}  {name}")
    scala = sum(s for s, _ in report.values())
    sql = sum(q for _, q in report.values())
    print(f"{scala:6d} {sql:6d} {scala + sql:6d}  all files")


if __name__ == "__main__":
    main(*sys.argv[1:])
