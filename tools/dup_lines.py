#!/usr/bin/env python3
"""Count copied lines in the Scala sources.

A line counts when, with leading and trailing whitespace stripped, it is
at least MIN_LEN characters long. Its excess is the number of times it
occurs beyond the first. The scan prints, per file, the excess of lines
repeated within that file, then the total excess across all files
together (a line copied between two files counts there too).

    python3 tools/dup_lines.py   # from the repository root
"""
import collections
import pathlib

MIN_LEN = 25


def lines_of(path):
    with open(path, encoding="utf-8") as f:
        return [s for s in (raw.strip() for raw in f) if len(s) >= MIN_LEN]


def excess(lines):
    return sum(n - 1 for n in collections.Counter(lines).values() if n > 1)


def main():
    root = pathlib.Path("src/main/scala")
    files = sorted(root.rglob("*.scala"))
    everything = []
    rows = []
    for path in files:
        lines = lines_of(path)
        everything.extend(lines)
        rows.append((excess(lines), path.relative_to(root)))
    for n, path in sorted(rows, key=lambda r: (-r[0], str(r[1]))):
        print(f"{n:6d}  {path}")
    print(f"{sum(n for n, _ in rows):6d}  within-file total ({len(files)} files)")
    print(f"{excess(everything):6d}  across {root}")


if __name__ == "__main__":
    main()
