#!/usr/bin/env python3
"""Count duplicated code in Scala (or Java) sources: a window of 6
consecutive code lines (blank and comment-only lines skipped, each line
trimmed) that occurs 2 or more times in the given paths is duplicated.

    python3 tools/dup_lines.py src/main

Prints each group (a run of overlapping duplicated windows, with every
place it occurs as `file:line`, first and last line of the run), then the
total: the number of distinct source lines that lie in a duplicated
window. `Oracles.scala` holds the reference SQL, which restates the
engine on purpose, so it is skipped when found under a directory
argument; name the file itself to count it.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from code_lines import code_mask, files  # noqa: E402

WINDOW = 6
EXCLUDED = ("Oracles.scala",)


def code_rows(path):
    """(line number, trimmed text) of every code line of `path`."""
    with open(path, encoding="utf-8") as f:
        lines = f.read().splitlines()
    return [(i + 1, l.strip()) for i, (l, c) in enumerate(zip(lines, code_mask("\n".join(lines)))) if c]


def duplicates(paths):
    """(total, groups): each group is a list of (path, first, last) runs."""
    rows = {p: code_rows(p) for p in paths}
    seen = {}  # window text -> [(path, index of its first row)]
    for p, rs in rows.items():
        for i in range(len(rs) - WINDOW + 1):
            seen.setdefault(tuple(t for _, t in rs[i:i + WINDOW]), []).append((p, i))
    dup = {at: key for key, ats in seen.items() if len(ats) > 1 for at in ats}

    # union-find over window occurrences: the same text, or overlapping
    # windows of one file, belong to one group
    parent = {at: at for at in dup}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ats in (seen[k] for k in set(dup.values())):
        for at in ats[1:]:
            parent[find(at)] = find(ats[0])
    for p, i in dup:
        if (p, i + 1) in dup:
            parent[find((p, i + 1))] = find((p, i))

    lines = set()
    members = {}
    for p, i in dup:
        members.setdefault(find((p, i)), []).append((p, i))
        lines.update((p, rows[p][j][0]) for j in range(i, i + WINDOW))
    groups = []
    for ats in members.values():
        runs = []
        for p, i in sorted(ats):
            if runs and runs[-1][0] == p and runs[-1][2] >= i - 1:
                runs[-1][2] = i
            else:
                runs.append([p, i, i])
        groups.append([(p, rows[p][a][0], rows[p][b + WINDOW - 1][0]) for p, a, b in runs])
    groups.sort(key=lambda g: (-sum(1 for l in lines if any(l[0] == p and a <= l[1] <= b for p, a, b in g)), g))
    return len(lines), groups


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    paths = [p for p in files(argv) if p in argv or os.path.basename(p) not in EXCLUDED]
    total, groups = duplicates(paths)
    for g in groups:
        print("  ".join(f"{p}:{a}-{b}" for p, a, b in g))
    print(f"{total:7d}  duplicated lines in {len(groups)} groups")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
