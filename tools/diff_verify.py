#!/usr/bin/env python3
"""Compare two `graft.Verify` output trees query by query.

    python3 tools/diff_verify.py A B

A and B are directories written by
`runMain graft.Verify <sfDir> <outDir>`: one parquet dir per query. For every
query dir in either tree this checks that both trees have it, that the two
parquet schemas are equal, and that the rows are equal as multisets (rows
are compared in a canonical sorted order, so a result that only comes back
in another row order is the same result). Unlike `tools/compare.py`, which
checks each tree against the DuckDB oracle and only row-counts the queries
that have no oracle, this checks every query's values, so it shows whether
a change to the engine moved any result at all.

Prints one line per differing or one-sided query and a summary; exits 1 on
any difference, 0 when the trees hold the same results.
"""
import os
import sys

import pyarrow.parquet as pq


def query_dirs(root):
    return {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}


def canonical_rows(table):
    """The table's rows as a sorted list of reprs: equal lists mean equal
    multisets of rows, NaN and -0.0 included."""
    return sorted(repr(tuple(row.values())) for row in table.to_pylist())


def diff_query(a_dir, b_dir):
    """None when both parquet dirs hold the same result, else a reason."""
    a, b = pq.read_table(a_dir), pq.read_table(b_dir)
    if a.schema != b.schema:
        return f"schema differs: {a.schema.to_string()!r} vs {b.schema.to_string()!r}"
    if a.num_rows != b.num_rows:
        return f"row count differs: {a.num_rows} vs {b.num_rows}"
    ra, rb = canonical_rows(a), canonical_rows(b)
    if ra != rb:
        first = next(i for i, (x, y) in enumerate(zip(ra, rb)) if x != y)
        return f"values differ: first sorted row {first}: {ra[first]} vs {rb[first]}"
    return None


def compare(a_root, b_root):
    """(differing {query: reason}, only-in-A, only-in-B, queries compared)."""
    qa, qb = query_dirs(a_root), query_dirs(b_root)
    both = sorted(qa & qb)
    differing = {}
    for q in both:
        reason = diff_query(os.path.join(a_root, q), os.path.join(b_root, q))
        if reason is not None:
            differing[q] = reason
    return differing, sorted(qa - qb), sorted(qb - qa), len(both)


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: diff_verify.py A B")
    differing, only_a, only_b, n = compare(argv[1], argv[2])
    for q, reason in differing.items():
        print(f"{q:24s} DIFF  {reason}")
    for q in only_a:
        print(f"{q:24s} only in A")
    for q in only_b:
        print(f"{q:24s} only in B")
    print(f"\n{len(differing)} differing of {n} compared, "
          f"{len(only_a)} only in A, {len(only_b)} only in B")
    return 1 if differing or only_a or only_b else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
