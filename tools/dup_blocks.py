#!/usr/bin/env python3
"""List blocks of code that src/main repeats.

    python3 tools/dup_blocks.py [repo_root] [window]

Strips comments from every Scala file under src/main/scala (the stripping
tools/dead_surface.py uses), drops blank lines and lines holding only
brackets or separators, and collapses runs of whitespace. Every window of
`window` consecutive normalized lines (default 4) that occurs more than
once, in one file or across files, is a repeat. Overlapping repeat windows
whose occurrences move together are merged into one block, printed as

    <lines> lines x<count>: file:line file:line ...
        <the block's first normalized line>

with file:line naming the original (unstripped) line each copy starts on.
The last line counts the blocks and the normalized lines of src/main/scala,
the comment-stripped size measure. Exit status is 0 either way.
"""
import re
import sys
from collections import defaultdict
from pathlib import Path

from dead_surface import strip_comments

BRACKETS_ONLY = re.compile(r"^[{}()\[\],;]*$")


def normalized(path: Path):
    """(original line number, normalized text) for each kept line."""
    out = []
    for no, line in enumerate(strip_comments(path.read_text()).splitlines(), 1):
        text = " ".join(line.split())
        if text and not BRACKETS_ONLY.match(text):
            out.append((no, text))
    return out


def main() -> int:
    root = Path(sys.argv[1] if len(sys.argv) > 1 else ".").resolve()
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    paths = sorted((root / "src/main/scala").rglob("*.scala"))
    if not paths:
        print(f"dup_blocks: no Scala sources under {root}/src/main/scala", file=sys.stderr)
        return 1
    files = [(p.relative_to(root), normalized(p)) for p in paths]

    windows = defaultdict(list)
    for fi, (_, lines) in enumerate(files):
        for i in range(len(lines) - n + 1):
            windows[tuple(t for _, t in lines[i:i + n])].append((fi, i))
    repeats = {k: occ for k, occ in windows.items() if len(occ) > 1}
    key_at = {o: k for k, occ in repeats.items() for o in occ}

    def moves_with(occ, step):
        """The occurrences shifted by `step`, if they form one repeat."""
        shifted = [(fi, i + step) for fi, i in occ]
        k = key_at.get(shifted[0])
        return shifted if k and sorted(repeats[k]) == sorted(shifted) else None

    blocks = []
    for occ in repeats.values():
        if moves_with(occ, -1):
            continue  # the tail of a block that starts one line earlier
        length, cur = n, occ
        while (cur := moves_with(cur, 1)) is not None:
            length += 1
        blocks.append((length, sorted(occ)))

    blocks.sort(key=lambda b: b[1][0])
    for length, occ in blocks:
        where = " ".join(f"{files[fi][0]}:{files[fi][1][i][0]}" for fi, i in occ)
        print(f"{length} lines x{len(occ)}: {where}")
        print(f"    {files[occ[0][0]][1][occ[0][1]][1]}")
    total = sum(len(lines) for _, lines in files)
    print(f"{len(blocks)} repeated blocks of >= {n} lines; {total} normalized lines in src/main/scala")
    return 0


if __name__ == "__main__":
    sys.exit(main())
