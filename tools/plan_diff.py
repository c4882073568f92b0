#!/usr/bin/env python3
"""Compare two `graft.Plans` dump directories query by query.

    python3 tools/plan_diff.py A B [--roots ROOT_A ROOT_B]

A and B are directories written by the 4-arg
`runMain graft.Plans <outDir> <tag> <sfDir> <q1,q2,...>`: one
`<query>_<tag>.txt` file per query (tags hold no underscore), so files pair
by query name whatever tag each side used. Two runs of one tree differ in
ids the planner allocates, so each plan is masked before the compare:
expression ids (`#123`), JVM lambda class names and their hashes, `x_N`
lambda variable numbers, RDD ids, the `File.scala:N` of RDD call sites
(a call moving between files is no plan change), `plan_id`s,
part-file UUIDs, 9-digit epoch and data dir numbers, and, with `--roots`,
each side's checkout path.

Prints a unified diff excerpt for each differing query and names each
one-sided query, then one comma-joined line of every such query name: pass
it as the query list of `graft.Plans` to re-dump only those queries on both
trees (a whole-inventory dump can reorder a plan's columns, since they
follow expression-id values). Exits 1 on any difference, 0 when every
query's masked plan is equal.
"""
import argparse
import difflib
import os
import re
import sys

MASKS = [
    # JVM lambda classes: `Foo$$Lambda$123/0x0000000801234567@5f3a2b`
    (re.compile(r"\$\$Lambda[$\w/]*(@[0-9a-f]+)?"), "$$Lambda"),
    # lambda variables: `lambda x_12#345` (the id is masked below)
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\bplan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # RDD call sites: `at createDataFrame at Sink.scala:46`, file and line
    (re.compile(r"\w+\.scala:\d+"), "F.scala:N"),
    (re.compile(r"part-(\d+)-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"), r"part-\1-UUID"),
    (re.compile(r"(?<!\d)\d{9}(?!\d)"), "NNNNNNNNN"),
]


def mask(text, root=None):
    """The plan text with every run-dependent number masked."""
    if root:
        text = text.replace(root.rstrip("/"), "<checkout>")
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def query_files(d):
    """{query name: file path} of a `graft.Plans` dump dir."""
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            out[f[:-len(".txt")].rsplit("_", 1)[0]] = os.path.join(d, f)
    return out


def compare(a_dir, b_dir, root_a=None, root_b=None):
    """(differing {query: diff lines}, only-in-A, only-in-B, compared count)."""
    qa, qb = query_files(a_dir), query_files(b_dir)
    differing = {}
    for q in sorted(qa.keys() & qb.keys()):
        with open(qa[q]) as fa, open(qb[q]) as fb:
            ma, mb = mask(fa.read(), root_a), mask(fb.read(), root_b)
        if ma != mb:
            differing[q] = list(difflib.unified_diff(
                ma.splitlines(), mb.splitlines(), "A/" + q, "B/" + q, n=1, lineterm=""))
    return (differing, sorted(qa.keys() - qb.keys()), sorted(qb.keys() - qa.keys()),
            len(qa.keys() & qb.keys()))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--roots", nargs=2, metavar=("ROOT_A", "ROOT_B"),
                    help="checkout paths of the two trees, masked in their plans")
    args = ap.parse_args(argv)
    root_a, root_b = args.roots or (None, None)
    differing, only_a, only_b, n = compare(args.a, args.b, root_a, root_b)
    for q, lines in differing.items():
        print(f"{q}: plans differ")
        for line in lines[:40]:
            print("    " + line)
    for q in only_a:
        print(f"{q}: only in {args.a}")
    for q in only_b:
        print(f"{q}: only in {args.b}")
    names = sorted(set(differing) | set(only_a) | set(only_b))
    print(f"{n} compared, {len(differing)} differing, "
          f"{len(only_a)} only in A, {len(only_b)} only in B")
    if names:
        print(",".join(names))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
