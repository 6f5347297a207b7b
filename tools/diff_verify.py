#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

    python3 tools/diff_verify.py <dumpA> <dumpB>

A dump is the output directory of `runMain graft.Verify <sfDir> <outDir>`: one
parquet directory per query plus oracle_sql.json. The two dumps agree when

  - they hold the same set of queries;
  - each query has the same row count and the same order-independent digest,
    the sum over its rows of DuckDB's `hash(row)`;
  - their oracle_sql.json files are byte-identical.

Prints `name: OK (N rows)` or `name: DIFF (...)` per query, then a summary line;
exits 1 on any difference.
"""

import os
import sys

import duckdb


def queries(dump):
    return {d for d in os.listdir(dump) if os.path.isdir(os.path.join(dump, d))}


def digest(con, path):
    """(rows, Σ hash(row)) of one query's parquet directory."""
    files = os.path.join(path, "*.parquet").replace("'", "''")
    return con.execute(
        f"SELECT count(*)::BIGINT, coalesce(sum(hash(t)), 0)::HUGEINT "
        f"FROM read_parquet('{files}') t").fetchone()


def read_bytes(path):
    try:
        with open(path, "rb") as f:
            return f.read()
    except FileNotFoundError:
        return None


def main(argv):
    if len(argv) != 3:
        print("usage: python3 tools/diff_verify.py <dumpA> <dumpB>", file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    con = duckdb.connect()
    qa, qb = queries(a), queries(b)
    diffs = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            print(f"{name}: DIFF (only in {a if name in qa else b})")
            diffs += 1
            continue
        da, db = digest(con, os.path.join(a, name)), digest(con, os.path.join(b, name))
        if da == db:
            print(f"{name}: OK ({da[0]} rows)")
        else:
            print(f"{name}: DIFF (rows {da[0]} vs {db[0]}, digest {da[1]} vs {db[1]})")
            diffs += 1
    oa = read_bytes(os.path.join(a, "oracle_sql.json"))
    ob = read_bytes(os.path.join(b, "oracle_sql.json"))
    if oa is not None and oa == ob:
        print("oracle_sql.json: OK (byte-identical)")
    else:
        print("oracle_sql.json: DIFF")
        diffs += 1
    total = len(qa | qb) + 1
    print(f"{total - diffs}/{total} identical")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
