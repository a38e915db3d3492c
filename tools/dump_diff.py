#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

Usage: python3 tools/dump_diff.py <verifyOutA> <verifyOutB>

A query is a subdirectory holding parquet files. Each query's rows are
canonicalized the way tools/check_oracle.py does it (columns by name, rows
by every column) and compared cell by cell with exact equality. Parquet
files themselves are not compared: their footers list column encodings in
a run-dependent order, so two dumps of the same rows differ in bytes.

It also compares the two directories' `oracle_sql.json`: the same keys, and
identical SQL text for each key.

Exits 1 when any query differs, is missing from either side, or either
side holds an `__error` dump, and when the oracles differ in any key or
text or either `oracle_sql.json` is missing; prints one line per query and
one line per oracle difference.
"""
import json
import os
import sys

import duckdb

from check_oracle import canon, cells_equal


def queries(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def load(con, out_dir, name):
    return con.sql(f"SELECT * FROM '{os.path.join(out_dir, name)}/*.parquet'").df()


def first_diff(a, b):
    """None when the two canonical frames are equal, else a description."""
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} != {sorted(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    a, b = canon(a), canon(b)
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if not cells_equal(x, y):
                return f"col={c} row={i}: {x!r} != {y!r}"
    return None


def oracle_diffs(dir_a, dir_b):
    """(number of keys, one line per difference) of the two oracle_sql.json."""
    oracles = []
    for d in (dir_a, dir_b):
        path = os.path.join(d, "oracle_sql.json")
        if not os.path.exists(path):
            return 0, [f"ORACLE DIFF: {path} missing"]
        with open(path) as f:
            oracles.append(json.load(f))
    a, b = oracles
    lines = []
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            side = dir_a if name not in a else dir_b
            lines.append(f"ORACLE DIFF {name}: missing from {side}")
        elif a[name] != b[name]:
            lines.append(f"ORACLE DIFF {name}: SQL text differs")
    return len(a.keys() | b.keys()), lines


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    dir_a, dir_b = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    qa, qb = queries(dir_a), queries(dir_b)
    n_same = n_bad = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            side = dir_a if name not in qa else dir_b
            print(f"DIFF {name}: missing from {side}")
            n_bad += 1
            continue
        a, b = load(con, dir_a, name), load(con, dir_b, name)
        if "__error" in a.columns or "__error" in b.columns:
            print(f"DIFF {name}: __error dump")
            n_bad += 1
            continue
        why = first_diff(a, b)
        if why:
            print(f"DIFF {name}: {why}")
            n_bad += 1
        else:
            print(f"SAME {name} ({len(a)} rows)")
            n_same += 1
    n_keys, oracle_lines = oracle_diffs(dir_a, dir_b)
    for line in oracle_lines:
        print(line)
    print(f"\n{n_same} identical, {n_bad} differ")
    print(f"oracle_sql.json: {n_keys} keys, {len(oracle_lines)} differ")
    sys.exit(1 if n_bad or oracle_lines else 0)


if __name__ == "__main__":
    main()
