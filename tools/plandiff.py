#!/usr/bin/env python3
"""Diff two `graft.tools.PlanDump` output directories, ignoring the
tokens that change from run to run of the same commit.

Usage: python3 tools/plandiff.py <dirA> <dirB> [--context N]

Files are paired by name, so dump both runs with the same suffix
(`runMain graft.tools.PlanDump <dir> plan`). Before comparing, each
plan is normalised:

  - `#123` expression ids               -> `#`
  - `plan_id=123`                       -> `plan_id=`
  - `[B@1a2b3c` byte-array identities   -> `[B@`
  - `Foo.scala:123` call sites          -> `Foo.scala:`
  - temp-dir names (`/tmp/graft_scratch_123...`) and
    part-file names (`part-00000-<uuid>-c000...`) -> a fixed token
  - `RDD[123]` ids                      -> `RDD[]`
  - the order of a distinct aggregate's groups (see `canon_distinct`)

A distinct aggregate is planned as an `Expand` with one projection per
distinct group, numbered by a `gid` column. Spark orders the groups by
a hash that depends on the JVM-wide expression-id counter, so the order
depends on which queries ran before in the same process. Each `gid`
number is renamed after the columns its projection keeps, and the keys
listed before `gid` are sorted, so two runs that differ only in that
order compare equal.

Prints one unified diff per differing file, and the files present in
only one directory; exits 1 if anything differs, 0 otherwise.
"""
import argparse
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\[B@[0-9a-f]+"), "[B@"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:"),
    (re.compile(r"part-\d+-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}(-c\d+)?"), "part-*"),
    (re.compile(r"(/tmp/[A-Za-z_]+?_?)-?\d{6,}"), r"\1*"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
]


OPEN, CLOSE = "([{", ")]}"


def split_top(body):
    """Split a list body at its top-level `, ` separators."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch in OPEN:
            depth += 1
        elif ch in CLOSE:
            depth -= 1
        elif ch == "," and depth == 0 and body[i + 1:i + 2] == " ":
            parts.append(body[start:i])
            start = i + 2
    parts.append(body[start:])
    return parts


def close_of(text, i):
    """Index of the bracket closing the one at `i`, or -1."""
    depth = 0
    for j in range(i, len(text)):
        if text[j] in OPEN:
            depth += 1
        elif text[j] in CLOSE:
            depth -= 1
            if depth == 0:
                return j
    return -1


def sort_gid_keys(text):
    """In every bracketed list holding a `gid#` element, sort the
    elements before it (the grouping keys and the distinct columns)."""
    out, i = [], 0
    while i < len(text):
        j = close_of(text, i) if text[i] in OPEN else -1
        if j < 0:
            out.append(text[i])
            i += 1
            continue
        parts = [sort_gid_keys(p) for p in split_top(text[i + 1:j])]
        if "gid#" in parts:
            g = parts.index("gid#")
            parts = sorted(parts[:g]) + parts[g:]
        out.append(text[i] + ", ".join(parts) + text[j])
        i = j + 1
    return "".join(out)


EXPAND_ARGS = re.compile(r"^Arguments: (\[\[.*\]\]), (\[.*\bgid#.*\])$", re.M)


def canon_distinct(text):
    """Rename each `Expand` projection's `gid` number after the columns
    it keeps, and sort the projections and the keys before `gid`."""
    labels = {}
    for m in EXPAND_ARGS.finditer(text):
        outputs = split_top(m.group(2)[1:-1])
        g = outputs.index("gid#")
        for proj in split_top(m.group(1)[1:-1]):
            cols = split_top(proj[1:-1])
            label = "{" + ",".join(sorted(c for c in cols[:g] if c != "null")) + "}"
            if labels.setdefault(cols[g], label) != label:
                return text  # two Expands disagree: leave the plan as it is
    if not labels:
        return text

    def canon_args(m):
        outputs = split_top(m.group(2)[1:-1])
        g = outputs.index("gid#")
        projs = []
        for proj in split_top(m.group(1)[1:-1]):
            cols = split_top(proj[1:-1])
            projs.append("[" + ", ".join(sorted(cols[:g]) + [labels[cols[g]]] + cols[g + 1:]) + "]")
        return "Arguments: [" + ", ".join(sorted(projs)) + "], " + m.group(2)

    text = EXPAND_ARGS.sub(canon_args, text)
    text = re.sub(r"\bgid# = (\d+)", lambda m: "gid# = " + labels.get(m.group(1), m.group(1)), text)
    return sort_gid_keys(text)


def normalise(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return canon_distinct(text) if "gid#" in text else text


def read(path):
    with open(path, encoding="utf-8") as f:
        return normalise(f.read())


def main(argv):
    ap = argparse.ArgumentParser(description="Diff two PlanDump dirs after normalising run-volatile tokens.")
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    ap.add_argument("--context", type=int, default=3, help="diff context lines")
    args = ap.parse_args(argv)
    a_names = set(os.listdir(args.dir_a))
    b_names = set(os.listdir(args.dir_b))
    for name in sorted(a_names - b_names):
        print(f"only in {args.dir_a}: {name}")
    for name in sorted(b_names - a_names):
        print(f"only in {args.dir_b}: {name}")
    differ = 0
    for name in sorted(a_names & b_names):
        a = read(os.path.join(args.dir_a, name)).splitlines()
        b = read(os.path.join(args.dir_b, name)).splitlines()
        if a != b:
            differ += 1
            for line in difflib.unified_diff(a, b, f"{args.dir_a}/{name}", f"{args.dir_b}/{name}",
                                             n=args.context, lineterm=""):
                print(line)
    print(f"{len(a_names & b_names) - differ} same, {differ} differ, "
          f"{len(a_names - b_names)} only in A, {len(b_names - a_names)} only in B")
    return 1 if differ or a_names != b_names else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
