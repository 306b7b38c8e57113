#!/usr/bin/env python3
"""Compare two graft.Verify dumps, for example a parent commit's and a change's.

    python3 dev/compare_dumps.py <outA> <outB>

Each dump holds one parquet dir per query plus oracle_sql.json. The dumps
are the same when both hold the same query dirs, each query's schema
(names, types, nullability) and rows (in file order) are equal, and
oracle_sql.json is byte-equal. Prints `SAME <n>` for n equal queries, or
one line per difference; exits 1 on any difference.
"""
import math
import os
import sys

import pyarrow.parquet as pq


def query_dirs(out):
    return {n for n in os.listdir(out) if os.path.isdir(os.path.join(out, n))}


def read(out, name):
    d = os.path.join(out, name)
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    tables = [pq.read_table(os.path.join(d, f)) for f in files]
    schema = tables[0].schema if tables else None
    fields = [(f.name, str(f.type), f.nullable) for f in schema] if schema else []
    rows = [r for t in tables for r in t.to_pylist()]
    return fields, rows


def canon(v):
    """Rows compare by value; NaN equals NaN (as it does in Spark's output)."""
    if isinstance(v, float) and math.isnan(v):
        return ("NaN",)
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return v


def diff(a, b):
    out = []
    da, db = query_dirs(a), query_dirs(b)
    for n in sorted(da - db):
        out.append(f"ONLY_A {n}")
    for n in sorted(db - da):
        out.append(f"ONLY_B {n}")
    same = 0
    for n in sorted(da & db):
        fa, ra = read(a, n)
        fb, rb = read(b, n)
        if fa != fb:
            out.append(f"SCHEMA {n}: {fa} != {fb}")
        elif canon(ra) != canon(rb):
            out.append(f"ROWS {n}: {len(ra)} vs {len(rb)} rows")
        else:
            same += 1
    oa, ob = (os.path.join(x, "oracle_sql.json") for x in (a, b))
    with open(oa, "rb") as fa, open(ob, "rb") as fb:
        if fa.read() != fb.read():
            out.append("ORACLE oracle_sql.json")
    return same, out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    same, out = diff(argv[1], argv[2])
    for line in out:
        print(line)
    if out:
        return 1
    print(f"SAME {same}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
