#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

For every query directory in either tree it checks that both trees have
it, that the parquet schemas are equal, and that the rows are equal as
multisets (row order is ignored, duplicates are counted). It also checks
that the two oracle_sql.json files are byte-identical.

Prints one FAIL line per difference, then `N/N identical`, and exits 1
if anything differs.

Usage: python3 scripts/diff_verify.py <verify_out_a> <verify_out_b>
(each made by `sbt "runMain graft.Verify <sfdir> <outdir>"`)
"""
import collections
import math
import os
import sys

import pyarrow.parquet as pq


def canon(v):
    """A hashable, order-stable stand-in for one parquet cell value."""
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else v
    if isinstance(v, dict):
        return tuple((k, canon(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def read(path):
    table = pq.read_table(path)
    rows = collections.Counter(
        tuple(canon(r[c]) for c in table.column_names) for r in table.to_pylist())
    return table.schema, rows


def main(a, b):
    fails = []
    with open(os.path.join(a, "oracle_sql.json"), "rb") as fa, \
            open(os.path.join(b, "oracle_sql.json"), "rb") as fb:
        if fa.read() != fb.read():
            fails.append("oracle_sql.json differs")
    names = sorted(n for n in set(os.listdir(a)) | set(os.listdir(b))
                   if os.path.isdir(os.path.join(a, n)) or os.path.isdir(os.path.join(b, n)))
    same = 0
    for n in names:
        da, db = os.path.join(a, n), os.path.join(b, n)
        if not (os.path.isdir(da) and os.path.isdir(db)):
            fails.append(f"{n}: missing in {'b' if os.path.isdir(da) else 'a'}")
            continue
        sa, ra = read(da)
        sb, rb = read(db)
        if not sa.equals(sb, check_metadata=False):
            fields_a = [str(f) for f in sa]
            fields_b = [str(f) for f in sb]
            fails.append(f"{n}: schema {[f for f in fields_a if f not in fields_b]} "
                         f"vs {[f for f in fields_b if f not in fields_a]}")
        elif ra != rb:
            fails.append(f"{n}: rows differ ({sum(ra.values())} vs {sum(rb.values())} rows, "
                         f"{sum((ra - rb).values())} only in a, {sum((rb - ra).values())} only in b)")
        else:
            same += 1
    for f in fails:
        print("FAIL", f)
    print(f"{same}/{len(names)} identical")
    return 1 if fails else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
