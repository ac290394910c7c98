#!/usr/bin/env python3
"""List the public defs in src/main/scala that no main code references.

A def is public unless it is private, protected or an override; `main`,
`apply` and `unapply` are entry points and never listed. A def counts as
referenced when its name occurs as a word in src/main/scala or
perfbench/src (comments stripped) more often than it is defined, so the
match is by name: an overload, or a same-named local, hides a def. Each
line printed is `<file relative to src/main/scala> <name>`, sorted.

Usage: tools/test_only_defs.py   (from the repo root)
"""
import collections
import pathlib
import re
import sys

MAIN = pathlib.Path("src/main/scala")
SOURCES = [MAIN, pathlib.Path("perfbench/src")]
DEF = re.compile(
    r"^\s*((?:@\w+\s+|final\s+|implicit\s+|override\s+|protected(?:\[\w+\])?\s+"
    r"|private(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*)", re.M)
ENTRY = {"main", "apply", "unapply"}


def strip_comments(text):
    text = re.sub(r"/\*.*?\*/", " ", text, flags=re.S)
    return re.sub(r"//[^\n]*", " ", text)


def main():
    code = {p: strip_comments(p.read_text(encoding="utf-8"))
            for root in SOURCES for p in sorted(root.rglob("*.scala"))}
    words = collections.Counter(
        w for text in code.values() for w in re.findall(r"[A-Za-z_]\w*", text))
    defined = collections.Counter(
        m.group(2) for text in code.values() for m in DEF.finditer(text))
    out = set()
    for path, text in code.items():
        if MAIN not in path.parents:
            continue
        for m in DEF.finditer(text):
            mods, name = m.group(1), m.group(2)
            if name in ENTRY or re.search(r"private|protected|override", mods):
                continue
            # each def line holds the name once (`def name`)
            if words[name] <= defined[name]:
                out.add(f"{path.relative_to(MAIN)} {name}")
    sys.stdout.write("".join(line + "\n" for line in sorted(out)))


if __name__ == "__main__":
    main()
