#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories, e.g. of a parent commit
and of a change.

Checks that the two oracle maps (oracle_sql.json) are equal, and that
every query's Spark output holds the same rows as a sorted multiset
(columns sorted by name). This is the only check that covers the rows
without an oracle: selfcheck.py never reads them.

Usage: python3 tools/compare_verify.py <verifyDirA> <verifyDirB>
"""
import json
import math
import os
import sys

import pyarrow.parquet as pq


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return repr(v)


def rows(qdir):
    t = pq.read_table(qdir)
    cols = sorted(t.column_names)
    return cols, sorted(tuple(norm(r[c]) for c in cols) for r in t.to_pylist())


def outputs(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = sys.argv[1], sys.argv[2]
    fails = 0
    oa = json.load(open(os.path.join(a, "oracle_sql.json")))
    ob = json.load(open(os.path.join(b, "oracle_sql.json")))
    if oa != ob:
        fails += 1
        print(f"DIFF oracle maps: only in A {sorted(oa.keys() - ob.keys())}, "
              f"only in B {sorted(ob.keys() - oa.keys())}, differing SQL "
              f"{sorted(k for k in oa.keys() & ob.keys() if oa[k] != ob[k])}")
    else:
        print(f"SAME oracle maps ({len(oa)} entries)")
    na, nb = outputs(a), outputs(b)
    if na != nb:
        fails += 1
        print(f"DIFF outputs: only in A {sorted(na - nb)}, "
              f"only in B {sorted(nb - na)}")
    for q in sorted(na & nb):
        ca, ra = rows(os.path.join(a, q))
        cb, rb = rows(os.path.join(b, q))
        if ca != cb:
            fails += 1
            print(f"DIFF {q}: columns {ca} vs {cb}")
        elif ra != rb:
            fails += 1
            print(f"DIFF {q}: rows differ ({len(ra)} vs {len(rb)})")
        else:
            tag = "" if q in oa else " [no oracle]"
            print(f"SAME {q} ({len(ra)} rows){tag}")
    print("ALL SAME" if fails == 0 else f"{fails} DIFFERENCES")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
