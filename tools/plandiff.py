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

What this does NOT normalise: the order of a distinct aggregate's
`Expand` groups follows the JVM-wide expression-id counter, so it
depends on which queries ran before in the same process. A file that
differs only there needs an isolated re-run of that query alone
(`PlanDump <dir> plan <query>`) at both commits.

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


def normalise(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text


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
