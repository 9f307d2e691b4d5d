#!/usr/bin/env python3
"""Find src/main files that nothing else uses.

A src/main/**/*.scala file is dead when none of the objects, classes or
traits it declares is named, outside comments, in another file of src/main
or perfbench/harness/src. String literals count as uses: a class loaded by
name from a config string is alive. Files with a `def main` are entry
points and are never dead. Each ALLOW entry names a file kept on purpose,
with its reason.

Prints one line per dead file, then `dead <n>`.
Usage: tools/dead_scan.py   (exits 1 when a file not in ALLOW is dead)
"""
import pathlib
import re
import sys

ALLOW = {
    "ads/AdsConfig.scala":
        "the only model of the reference's secret and token-refresh flow"
        " (main.py:71-255); no credential reaches the zero-egress ETL",
}

DECL = re.compile(r"\b(?:object|class|trait)\s+([A-Za-z_]\w*)")
MAIN = re.compile(r"\bdef\s+main\s*\(")
CHAR = re.compile(r"'(\\.|[^\\'\n])'")


def strip_comments(text):
    """`text` with // and (nested) /* */ comments blanked; strings kept."""
    out = []
    i, n = 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':  # """...""""" ends at the last quote
                j += 1
            out.append(text[i:j])
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif text[i] == "'" and CHAR.match(text, i):
            j = CHAR.match(text, i).end()
            out.append(text[i:j])
            i = j
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(" ")
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def scan(repo):
    pkg = repo / "src" / "main" / "scala" / "graft"
    users = sorted((repo / "src" / "main").rglob("*.scala")) + \
        sorted((repo / "perfbench" / "harness" / "src").rglob("*.scala"))
    code = {p: strip_comments(p.read_text(encoding="utf-8")) for p in users}
    dead = []
    for path in sorted(pkg.rglob("*.scala")):
        text = code[path]
        if MAIN.search(text):
            continue
        names = set(DECL.findall(text))
        others = [t for p, t in code.items() if p != path]
        if not any(re.search(rf"\b{re.escape(name)}\b", t)
                   for name in names for t in others):
            dead.append(str(path.relative_to(pkg)))
    return dead


def main():
    repo = pathlib.Path(__file__).resolve().parent.parent
    dead = scan(repo)
    for f in dead:
        print(f"{f}  (allowed: {ALLOW[f]})" if f in ALLOW else f)
    print(f"dead {len(dead)}")
    unexpected = [f for f in dead if f not in ALLOW]
    stale = [f for f in ALLOW if f not in dead]
    if unexpected:
        sys.exit(f"dead_scan: nothing outside these files uses them: {', '.join(unexpected)}")
    if stale:
        sys.exit(f"dead_scan: allowlisted files are in use now, drop their entries: {', '.join(stale)}")


if __name__ == "__main__":
    main()
