#!/usr/bin/env python3
"""Row-level diff of two graft.Verify dumps (dev tooling, not part of the
library). Two dumps of the same code differ as files, because parquet
footers list column encodings in varying order, so `cmp` cannot tell
whether they hold the same results. This reads every query directory of
either dump with DuckDB and compares column names, column types and rows
in file order, with compare_oracle.cell_eq deciding cell equality. Unlike
compare_oracle.py it also covers the queries that have no oracle.

Usage: python3 tools/diff_verify.py <dirA> <dirB>
Prints one line per query that differs or is missing, then a count; exits 1
if any query differs.
"""
import os
import sys

import duckdb

from compare_oracle import cell_eq


def query_dirs(root):
    return {d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))
            and any(f.endswith(".parquet")
                    for f in os.listdir(os.path.join(root, d)))}


def read(con, root, name):
    rel = con.sql(f"SELECT * FROM '{root}/{name}/*.parquet'")
    return rel.columns, [str(t) for t in rel.types], rel.fetchall()


def diff(con, a, b, name):
    """None when the two outputs are the same, else what differs."""
    ca, ta, ra = read(con, a, name)
    cb, tb, rb = read(con, b, name)
    if ca != cb:
        return f"columns {ca} vs {cb}"
    if ta != tb:
        return f"types {ta} vs {tb}"
    if len(ra) != len(rb):
        return f"rows {len(ra)} vs {len(rb)}"
    for i, (x, y) in enumerate(zip(ra, rb)):
        for c, u, v in zip(ca, x, y):
            if not cell_eq(u, v):
                return f"row {i} col {c}: {u!r} vs {v!r}"
    return None


def main(a, b):
    con = duckdb.connect()
    da, db = query_dirs(a), query_dirs(b)
    n_same = n_diff = 0
    for name in sorted(da | db):
        if name not in da or name not in db:
            print(f"MISSING {name}: only in {a if name in da else b}")
            n_diff += 1
            continue
        try:
            why = diff(con, a, b, name)
        except Exception as e:
            why = f"exception {e}"
        if why is None:
            n_same += 1
        else:
            print(f"DIFF {name}: {why}")
            n_diff += 1
    print(f"{n_same} same, {n_diff} differ")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
