#!/usr/bin/env python3
"""List repeated code under src/main: the next fold to make.

Every window of N consecutive non-comment code lines (blank lines and
comment lines skipped, whitespace collapsed) that occurs more than once
is a repeat. Overlapping repeated windows are grouped into clusters,
and each cluster is printed with its copy count, its span and the
file:line of every copy, largest saving first (the lines a fold into
one definition would remove: (copies - 1) x span).

    python3 tools/clones.py                  # 6-line windows, top 15
    python3 tools/clones.py -n 5 --top 30 src/main/scala/graft/operators

Standard library only.
"""
import argparse
import collections
import os
import sys

EXTS = (".scala", ".java")


def code_lines(path):
    """(line number, normalized text) of each non-comment code line."""
    out = []
    in_block = False
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            line = raw.strip()
            if in_block:
                if "*/" in line:
                    in_block = False
                continue
            if not line or line.startswith("//") or line.startswith("*"):
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line
                continue
            out.append((no, " ".join(line.split())))
    return out


def sources(roots):
    for root in roots:
        if os.path.isfile(root):
            yield root
            continue
        for d, _, files in sorted(os.walk(root)):
            for name in sorted(files):
                if name.endswith(EXTS):
                    yield os.path.join(d, name)


def find(roots, n):
    files = {p: code_lines(p) for p in sources(roots)}
    where = collections.defaultdict(list)  # window text -> [(file, index)]
    for p, lines in files.items():
        for i in range(len(lines) - n + 1):
            where[tuple(t for _, t in lines[i:i + n])].append((p, i))
    dup = {k for k, v in where.items() if len(v) > 1}

    # windows that follow each other and repeat equally often are one
    # clone: union their keys
    parent = {}

    def root(k):
        while parent.get(k, k) != k:
            k = parent[k]
        return k

    for p, lines in files.items():
        prev = None
        for i in range(len(lines) - n + 1):
            k = tuple(t for _, t in lines[i:i + n])
            if k in dup and prev is not None and len(where[k]) == len(where[prev]):
                a, b = root(prev), root(k)
                if a != b:
                    parent[b] = a
            prev = k if k in dup else None

    # each maximal run of one cluster's windows in a file is one copy
    runs = collections.defaultdict(list)  # cluster -> [(file, first, last, text)]
    for p, lines in files.items():
        cur = None
        for i in range(len(lines) - n + 1):
            k = tuple(t for _, t in lines[i:i + n])
            c = root(k) if k in dup else None
            if c is not None and cur is not None and cur[0] == c and cur[2] == i - 1:
                cur[2] = i
            else:
                if cur is not None:
                    runs[cur[0]].append((p, cur[1], cur[2] + n - 1, lines))
                cur = [c, i, i] if c is not None else None
        if cur is not None:
            runs[cur[0]].append((p, cur[1], cur[2] + n - 1, lines))

    def ranked(groups):
        out = []
        for copies in groups:
            if len(copies) < 2:
                continue
            span = max(last - first + 1 for _, first, last, _ in copies)
            out.append(((len(copies) - 1) * span, span, copies))
        out.sort(key=lambda c: (-c[0], c[2][0][0], c[2][0][1]))
        return out

    # largest saving first; a copy whose lines an earlier cluster
    # already reported is dropped, so each repeated line is counted once
    clusters, seen = [], collections.defaultdict(set)
    pending = ranked(runs.values())
    while pending:
        _, _, copies = pending.pop(0)
        fresh = [c for c in copies
                 if not seen[c[0]] & set(range(c[1], c[2] + 1))]
        if len(fresh) < len(copies):
            pending = ranked([fresh] + [c for _, _, c in pending])
            continue
        for p, first, last, _ in copies:
            seen[p].update(range(first, last + 1))
        clusters.append(ranked([copies])[0])
    return clusters


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("roots", nargs="*", default=["src/main"],
                    help="files or directories to scan (default src/main)")
    ap.add_argument("-n", "--lines", type=int, default=6,
                    help="window length in code lines (default 6)")
    ap.add_argument("--top", type=int, default=15,
                    help="clusters to print (default 15, 0 = all)")
    args = ap.parse_args()
    if args.lines < 1:
        ap.error("--lines must be >= 1")
    clusters = find(args.roots, args.lines)
    total = sum(c[0] for c in clusters)
    print(f"{len(clusters)} clusters of repeated {args.lines}-line windows; "
          f"a fold of every one would remove ~{total} code lines")
    shown = clusters if args.top == 0 else clusters[:args.top]
    for rank, (saving, span, copies) in enumerate(shown, 1):
        print(f"\n#{rank}: {len(copies)} copies x {span} code lines "
              f"(saving {saving})")
        for p, first, last, lines in copies:
            print(f"  {p}:{lines[first][0]}-{lines[last][0]}")
        p, first, _, lines = copies[0]
        print(f"  | {lines[first][1]}")
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BrokenPipeError:  # output piped into `head`
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        sys.exit(0)
