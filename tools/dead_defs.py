#!/usr/bin/env python3
"""List the main-source definitions no other main source names.

    python3 tools/dead_defs.py [--root DIR]

For every `def`, `val`, `var`, `class`, `trait` and `object` declared in
`src/main` (at any depth), the scan counts how often its name appears as a
whole word in `src/main` outside of comments, minus the number of times the
name is itself declared there. A definition whose count is 0 is printed as

    file:line  kind name  test=N perfbench=M

where N and M count the name's whole-word occurrences in `src/test` and
`perfbench/src`: a row with both at 0 is named nowhere, a row with only
test references is a capability that only specs exercise.

It is a name scan, not a compiler pass, so read each row by hand:
  - two definitions with one name hide each other (a dead `build` in one
    store is masked by a live `build` in another);
  - names reached only by reflection or a service file (a DataSource's
    `shortName`, a `main` entry point) read as unreferenced;
  - `override` members are skipped, since the supertype names them.
Comments are stripped before counting, string literals are kept (an `expr`
string can name a Scala helper).
"""
import argparse
import re
import sys
from collections import Counter
from pathlib import Path

DECL = re.compile(
    r"^(?P<mods>(?:(?:private|protected)(?:\[[\w.]+\])?\s+|final\s+|sealed\s+"
    r"|abstract\s+|implicit\s+|lazy\s+|case\s+|override\s+)*)"
    r"(?P<kind>def|val|var|class|trait|object)\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# string literals are matched first so a `//` inside one ("s3a://b") is kept
COMMENT = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|/\*.*?\*/|//[^\n]*', re.S)


def strip_comments(text):
    """Blank out comments, keeping strings, and newlines so line numbers stay put."""
    return COMMENT.sub(
        lambda m: m.group(0) if m.group(0).startswith('"') else re.sub(r"[^\n]", " ", m.group(0)),
        text)


def word_counts(files):
    c = Counter()
    for f in files:
        c.update(WORD.findall(strip_comments(f.read_text(encoding="utf-8"))))
    return c


def declarations(files, root):
    for f in files:
        for n, line in enumerate(strip_comments(f.read_text(encoding="utf-8")).splitlines(), 1):
            m = DECL.match(line.strip())
            if m:
                yield (str(f.relative_to(root)), n, m.group("kind"),
                       m.group("name"), "override" in m.group("mods"))


def scala_files(d):
    return sorted(d.rglob("*.scala")) if d.is_dir() else []


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", default=Path(__file__).resolve().parent.parent, type=Path)
    root = ap.parse_args().root
    main_files = scala_files(root / "src/main")
    decls = list(declarations(main_files, root))
    declared = Counter(name for _, _, _, name, _ in decls)
    used = word_counts(main_files)
    test = word_counts(scala_files(root / "src/test"))
    bench = word_counts(scala_files(root / "perfbench/src"))
    rows = [(f, n, kind, name) for f, n, kind, name, over in decls
            if not over and used[name] - declared[name] <= 0]
    for f, n, kind, name in rows:
        print(f"{f}:{n}  {kind} {name}  test={test[name]} perfbench={bench[name]}")
    print(f"{len(rows)} unreferenced of {len(decls)} definitions in src/main", file=sys.stderr)


if __name__ == "__main__":
    main()
