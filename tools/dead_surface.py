#!/usr/bin/env python3
"""List src/main members that no non-test code references.

    python3 tools/dead_surface.py [repo_root]

Strips comments from every Scala file, collects the `def`/`val`/`var`/
`object`/`class`/`trait` declarations under src/main/scala, and counts
whole-word uses of each name in the non-test code: src/main/scala plus
e2ebench/src, which compiles against the engine. A name used nowhere but
its own declaration is printed as `unreferenced`, or as `test-only` when
src/test still uses it. `override` members, `main`, `apply`, `unapply` and
objects that declare a `main` are skipped, since the runtime or the
compiler calls them.

The match is by name, not by symbol, so the list errs short: a member
whose name another member shares is never reported. Exit status is 0
either way; the last line counts the findings.
"""
import re
import sys
from collections import Counter
from pathlib import Path

DECL = re.compile(
    r"^(?P<mods>(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|lazy\s+|"
    r"implicit\s+|override\s+|sealed\s+|abstract\s+|case\s+)*)"
    r"(?P<kind>def|val|var|object|class|trait)\s+(?P<name>[A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_]\w*")
SKIP = {"main", "apply", "unapply"}


def strip_comments(src: str) -> str:
    """Blank out // and /* */ comments (nested, as in Scala), keeping
    string literals and line breaks so line numbers still match."""
    out, i, n, depth = [], 0, len(src), 0
    while i < n:
        c = src[i]
        if depth:
            if src.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif src.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                out.append("\n" if c == "\n" else " ")
                i += 1
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2)
            out.append(src[i:j + 1])
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def words(files):
    count = Counter()
    for f in files:
        count.update(WORD.findall(strip_comments(f.read_text())))
    return count


def main() -> int:
    root = Path(sys.argv[1] if len(sys.argv) > 1 else ".").resolve()
    main_files = sorted((root / "src/main/scala").rglob("*.scala"))
    if not main_files:
        print(f"dead_surface: no Scala sources under {root}/src/main/scala", file=sys.stderr)
        return 1
    live = words(main_files + sorted((root / "e2ebench/src").rglob("*.scala")))
    tests = words(sorted((root / "src/test").rglob("*.scala")))

    decls, entry_points = [], set()
    for f in main_files:
        top = None  # the last top-level object, owner of any `def main`
        for no, line in enumerate(strip_comments(f.read_text()).splitlines(), 1):
            m = DECL.match(line.strip())
            if not m:
                continue
            if m["kind"] == "object" and not line[:1].isspace():
                top = m["name"]
            if m["name"] == "main" and top:
                entry_points.add(top)
            if "override" not in m["mods"] and m["name"] not in SKIP:
                decls.append((f.relative_to(root), no, m["kind"], m["name"]))
    decls = [d for d in decls if not (d[2] == "object" and d[3] in entry_points)]
    declared = Counter(name for *_, name in decls)

    found = 0
    for path, no, kind, name in decls:
        if live[name] > declared[name]:
            continue
        found += 1
        where = "test-only" if tests[name] else "unreferenced"
        print(f"{path}:{no}\t{kind} {name}\t{where}")
    print(f"{found} members without a non-test caller")
    return 0


if __name__ == "__main__":
    sys.exit(main())
