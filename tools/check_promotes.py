#!/usr/bin/env python3
"""Guard against hand-written promotes: list every Hadoop rename under
src/main and fail if one appears outside the places allowed to rename.

Usage: python3 tools/check_promotes.py [repo_root]

Every staged write promotes through graft.sources.StagedCommit, whose file
also holds the one atomic small-file write (StagedCommit.writeAtomic).
One separate design keeps its own renames: VersionedRoot's versioned
publication. A `.rename(` call anywhere else is a new copy of the promote
and fails the check. Column renames (Conform.rename, withColumnRenamed) are not file
renames and are skipped; comment lines are skipped too.

Prints one line per rename found, `ok` or `FAIL`, with file:line and the
enclosing def, and exits non-zero on any FAIL.
"""
import os
import re
import sys

ALLOWED_FILES = {"sources/StagedCommit.scala", "sources/VersionedRoot.scala"}
ALLOWED_DEFS = set()  # (file, enclosing def) pairs allowed beside the files
NOT_FILE_RENAMES = {"Conform"}  # receivers whose .rename( renames columns

RENAME = re.compile(r"(\w+)?\s*\.rename\(")
DEF = re.compile(r"\bdef\s+(\w+)")


def main():
    root = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")
    src = os.path.join(root, "src", "main", "scala", "graft")
    bad = 0
    for d, _, files in sorted(os.walk(src)):
        for name in sorted(files):
            if not name.endswith(".scala"):
                continue
            path = os.path.join(d, name)
            rel = os.path.relpath(path, src)
            defs = []  # (indent, name) of the defs enclosing this line
            with open(path, encoding="utf-8") as f:
                for n, line in enumerate(f, 1):
                    code = line.strip()
                    if not code or code.startswith(("//", "*", "/*")):
                        continue
                    indent = len(line) - len(line.lstrip())
                    while defs and defs[-1][0] >= indent:
                        defs.pop()  # a line at a def's indent closes its body
                    m = DEF.search(code)
                    if m:
                        defs.append((indent, m.group(1)))
                    enclosing = defs[0][1] if defs else None
                    if "def rename(" in code:
                        continue
                    for hit in RENAME.finditer(code):
                        if hit.group(1) in NOT_FILE_RENAMES:
                            continue
                        ok = rel in ALLOWED_FILES or (rel, enclosing) in ALLOWED_DEFS
                        bad += not ok
                        print(f"{'ok  ' if ok else 'FAIL'} {rel}:{n} in {enclosing}: {code}")
    if bad:
        print(f"check_promotes: {bad} rename(s) outside StagedCommit and VersionedRoot "
              "— promote through graft.sources.StagedCommit",
              file=sys.stderr)
        sys.exit(1)
    print("check_promotes: every rename is in an allowed place")


if __name__ == "__main__":
    main()
