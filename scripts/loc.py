#!/usr/bin/env python3
"""Line counts (`wc -l`) of the Scala sources, main and test, and with
`--base REV` their change against that git revision.

    python3 scripts/loc.py                 # main and test totals
    python3 scripts/loc.py --base HEAD~1   # plus per-file and total delta

Main is `src/main/**/*.scala`, test `src/test/**/*.scala`. The working
tree is counted from disk (uncommitted edits included); the base from
`git show REV:<path>`. A file that exists on one side only counts as 0 on
the other. Run from anywhere inside the repository, or pass `--root`."""
import argparse
import subprocess
import sys
from pathlib import Path

GROUPS = ("main", "test")


def group_of(path):
    """'main' or 'test' for a source path, None for anything else."""
    parts = Path(path).parts
    if len(parts) > 2 and parts[0] == "src" and parts[1] in GROUPS and path.endswith(".scala"):
        return parts[1]
    return None


def lines(data):
    """What `wc -l` prints: the number of newline bytes."""
    return data.count(b"\n")


def disk_counts(root):
    """{path: lines} of the working tree's Scala sources under `root`."""
    root = Path(root)
    return {p.relative_to(root).as_posix(): lines(p.read_bytes())
            for p in sorted((root / "src").glob("*/**/*.scala"))
            if group_of(p.relative_to(root).as_posix())}


def git(root, *args):
    return subprocess.run(("git", "-C", str(root)) + args, check=True,
                          capture_output=True).stdout


def rev_counts(root, rev):
    """{path: lines} of the Scala sources committed at `rev`."""
    names = git(root, "ls-tree", "-r", "--name-only", rev, "--", "src").decode().split("\n")
    return {n: lines(git(root, "show", f"{rev}:{n}")) for n in names if group_of(n)}


def totals(counts):
    """{group: summed lines} over `counts`."""
    out = dict.fromkeys(GROUPS, 0)
    for path, n in counts.items():
        out[group_of(path)] += n
    return out


def delta(base, head):
    """[(path, before, after)] for every file whose count differs, sorted."""
    return [(p, base.get(p, 0), head.get(p, 0))
            for p in sorted(set(base) | set(head))
            if base.get(p, 0) != head.get(p, 0)]


def report(head, base=None, rev=None, out=sys.stdout):
    if base is not None:
        print(f"per-file delta against {rev}:", file=out)
        for path, before, after in delta(base, head):
            print(f"  {after - before:+7d}  {before:6d} -> {after:6d}  {path}", file=out)
    now = totals(head)
    was = totals(base) if base is not None else None
    for g in GROUPS:
        if was is None:
            print(f"{g}  {now[g]}", file=out)
        else:
            print(f"{g}  {was[g]} -> {now[g]}  ({now[g] - was[g]:+d})", file=out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", metavar="REV", help="git revision to diff against")
    ap.add_argument("--root", help="repository root (default: the enclosing git work tree)")
    a = ap.parse_args(argv)
    root = a.root or git(".", "rev-parse", "--show-toplevel").decode().strip()
    head = disk_counts(root)
    report(head, rev_counts(root, a.base) if a.base else None, a.base)


if __name__ == "__main__":
    main()
