#!/usr/bin/env python3
"""Compare a graft.Verify dump against its DuckDB oracles.

    python3 tools/check_oracle.py <sfDir> <verifyOutDir> [name...]

Registers every `<table>.parquet` of <sfDir> as a DuckDB view of that name,
runs each oracle SQL of <verifyOutDir>/oracle_sql.json and compares its result
with the Spark result in <verifyOutDir>/<name>/:

  - the same column names, in any order;
  - the same number of rows;
  - equal values once the rows are sorted, floats within a relative 1e-6.

DuckDB `Decimal` compares as float and `DATE` as a midnight timestamp; time
zone aware timestamps compare in UTC. Prints `name: OK (N rows)` or
`name: FAIL (...)` per query, then a summary; exits 1 if any query failed.
Extra arguments restrict the check to the named queries.
"""

import datetime
import decimal
import glob
import json
import math
import os
import sys

import duckdb

REL_TOL = 1e-6
ABS_TOL = 1e-9


def norm(v):
    """A comparable, hashable form of one DuckDB value."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted(((k, norm(x)) for k, x in v.items()), key=lambda kv: sort_key(kv)))
    return v


def sort_key(v):
    """Total order over normalized values: None first, floats rounded so
    that values equal within the tolerance sort together."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)):
        f = float(v)
        return (1, 0.0 if math.isnan(f) else float(f"{f:.6g}"), math.isnan(f))
    if isinstance(v, tuple):
        return (3, tuple(sort_key(x) for x in v))
    return (2, type(v).__name__, str(v))


def same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def fetch(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return names, cur.fetchall()


def canonical(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=sort_key)
    return [names[i] for i in order], out


def check(con, out_dir, name, sql):
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return f"FAIL (no Spark output in {os.path.join(out_dir, name)})"
    s_names, s_rows = fetch(con, f"SELECT * FROM read_parquet({files!r})")
    try:
        o_names, o_rows = fetch(con, sql)
    except duckdb.Error as e:
        return f"FAIL (oracle error: {str(e).splitlines()[0]})"
    s_names, s_rows = canonical(s_names, s_rows)
    o_names, o_rows = canonical(o_names, o_rows)
    if s_names != o_names:
        return f"FAIL (columns: spark {s_names} vs oracle {o_names})"
    if len(s_rows) != len(o_rows):
        return f"FAIL (rows: spark {len(s_rows)} vs oracle {len(o_rows)})"
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if not same(a, b):
            return f"FAIL (sorted row {i}: spark {a!r:.300} vs oracle {b!r:.300})"
    return f"OK ({len(s_rows)} rows)"


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sf_dir, out_dir, only = sys.argv[1], sys.argv[2], set(sys.argv[3:])
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
    except duckdb.Error:
        pass  # without ICU, timestamps are already UTC
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        table = os.path.basename(path)[: -len(".parquet")]
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{src}')")
    failed = 0
    names = sorted(n for n in oracles if not only or n in only)
    for name in names:
        verdict = check(con, out_dir, name, oracles[name])
        failed += not verdict.startswith("OK")
        print(f"{name}: {verdict}", flush=True)
    print(f"{len(names) - failed}/{len(names)} oracle queries OK")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
