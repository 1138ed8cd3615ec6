#!/usr/bin/env python3
"""Net main-code lines between two revisions.

    python3 tools/main_lines.py REV_A [REV_B]

Diffs src/main from REV_A to REV_B (default: the working tree, which
includes files staged with `git add` but not untracked ones) and prints
the lines added and removed, once counting every line and once counting
only code lines: not blank and not a comment. A line is a comment when,
stripped, it starts with `//`, `/*` or `*` (the scaladoc continuation);
a diff hunk carries no block-comment state, so code that starts a line
with `*` would be miscounted as a comment. Also prints the number of
`localCheckpoint(` calls in src/main on each side. Run it from inside
the repository.
"""
import subprocess
import sys

ROOT = "src/main"
CHECKPOINT = "localCheckpoint("


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def is_code(line):
    s = line.strip()
    return bool(s) and not s.startswith(("//", "/*", "*"))


def diff_counts(rev_a, rev_b):
    revs = [rev_a] if rev_b is None else [rev_a, rev_b]
    out = git("diff", "--no-color", "--no-renames", "-U0", *revs, "--", ROOT)
    counts = {"added": 0, "removed": 0, "added_code": 0, "removed_code": 0}
    for line in out.splitlines():
        if line.startswith(("+++", "---")):
            continue
        if line.startswith("+"):
            key = "added"
        elif line.startswith("-"):
            key = "removed"
        else:
            continue
        counts[key] += 1
        if is_code(line[1:]):
            counts[key + "_code"] += 1
    return counts


def checkpoint_calls(rev):
    if rev is None:
        files = git("ls-files", "--", ROOT).split()
        texts = []
        for f in files:
            try:
                with open(f, encoding="utf-8") as fh:
                    texts.append(fh.read())
            except FileNotFoundError:  # deleted in the tree, not yet staged
                pass
        return sum(t.count(CHECKPOINT) for t in texts)
    files = git("ls-tree", "-r", "--name-only", rev, "--", ROOT).split()
    return sum(git("show", f"{rev}:{f}").count(CHECKPOINT) for f in files)


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    rev_a = argv[1]
    rev_b = argv[2] if len(argv) == 3 else None
    c = diff_counts(rev_a, rev_b)
    b_name = rev_b or "working tree"
    print(f"{ROOT}: {rev_a} -> {b_name}")
    print(f"  all lines:  +{c['added']} -{c['removed']} "
          f"net {c['added'] - c['removed']:+d}")
    print(f"  code lines: +{c['added_code']} -{c['removed_code']} "
          f"net {c['added_code'] - c['removed_code']:+d}")
    print(f"  {CHECKPOINT} calls: {checkpoint_calls(rev_a)} -> "
          f"{checkpoint_calls(rev_b)}")


if __name__ == "__main__":
    main(sys.argv)
