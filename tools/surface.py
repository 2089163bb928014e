#!/usr/bin/env python3
"""Print the size numbers the ROADMAP's design aim tracks: the line
count of src/main; the line count and public defs of the versioned
store and of its row-level DML engine (`ops/TableStore.scala`,
`ops/Dml.scala`: defs at the object's top level, two-space indent,
with no access modifier); the number of `def commit*` definitions in
`ops/TableStore.scala`, the store's commit entry points; and the
number of `requireNoDvs` call sites in src/main, the ops that refuse
under merge-on-read delete vectors.
Both objects are counted so that moving a def from one to the other
cannot hide growth.

Usage: surface.py [repo] [--list]

`repo` defaults to the checkout this script lives in; `--list` also
prints the public defs' names in file order. Standard library only.
"""
import pathlib
import re
import sys


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    repo = pathlib.Path(args[0]) if args else \
        pathlib.Path(__file__).resolve().parent.parent
    main_dir = repo / "src" / "main"
    lines = sum(p.read_bytes().count(b"\n")
                for p in sorted(main_dir.rglob("*.scala")))
    print(f"src/main lines: {lines}")
    for name in ("TableStore", "Dml"):
        src = main_dir / "scala" / "graft" / "ops" / f"{name}.scala"
        text = src.read_text(encoding="utf-8")
        defs = [m.group(1) for m in
                re.finditer(r"^  def ([A-Za-z_][A-Za-z0-9_]*)", text, re.M)]
        print(f"{name}.scala lines: {text.count(chr(10))}")
        print(f"{name} public defs: {len(defs)}")
        if "--list" in argv:
            for d in defs:
                print(f"  {d}")
        if name == "TableStore":
            commits = re.findall(r"^\s*(?:private(?:\[\w+\])?\s+)?def commit\w*",
                                 text, re.M)
            print(f"TableStore def commit definitions: {len(commits)}")
    refusals = sum(len(re.findall(r"\.requireNoDvs\(",
                                  p.read_text(encoding="utf-8")))
                   for p in sorted(main_dir.rglob("*.scala")))
    print(f"requireNoDvs call sites: {refusals}")

if __name__ == "__main__":
    main(sys.argv[1:])
