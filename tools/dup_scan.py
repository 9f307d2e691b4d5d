#!/usr/bin/env python3
"""Count copied code in src/main.

Over each src/main/**/*.scala in path order: drop blank lines and lines whose
trimmed text starts with `//`, `/*` or `*`; slide a 5-line window over what is
left, skipping windows shorter than 150 characters; and count the lines
covered by every occurrence of a window after its first.

Prints one line per file with copied lines, then `total <n>`.
Usage: tools/dup_scan.py [--max N]   (exits 1 when the total exceeds N)
"""
import argparse
import pathlib
import sys

WINDOW = 5
MIN_CHARS = 150


def code_lines(path):
    out = []
    for line in path.read_text(encoding="utf-8").splitlines():
        t = line.strip()
        if not t or t.startswith(("//", "/*", "*")):
            continue
        out.append(t)
    return out


def scan(root):
    seen = set()
    per_file = {}
    for path in sorted(root.rglob("*.scala")):
        lines = code_lines(path)
        copied = set()
        for i in range(len(lines) - WINDOW + 1):
            win = tuple(lines[i:i + WINDOW])
            if sum(len(l) for l in win) < MIN_CHARS:
                continue
            if win in seen:
                copied.update(range(i, i + WINDOW))
            else:
                seen.add(win)
        if copied:
            per_file[str(path)] = len(copied)
    return per_file


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--max", type=int, default=None)
    args = ap.parse_args()
    root = pathlib.Path(__file__).resolve().parent.parent / "src" / "main"
    per_file = scan(root)
    for f, n in sorted(per_file.items(), key=lambda kv: -kv[1]):
        print(f"{n:5d} {pathlib.Path(f).relative_to(root)}")
    total = sum(per_file.values())
    print(f"total {total}")
    if args.max is not None and total > args.max:
        sys.exit(f"dup_scan: {total} copied lines, more than the committed {args.max}")


if __name__ == "__main__":
    main()
