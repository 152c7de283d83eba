#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query, row for row.

Usage: python3 scratch/dump_diff.py <dump_a> <dump_b> [q1,q2,...]

Each dump holds one parquet dir per query. Rows are compared as
multisets: columns sorted by name, rows sorted, exact values. Exits
nonzero when a query is missing from either side or differs."""
import os
import sys

import pandas as pd


def canon(path: str) -> pd.DataFrame:
    df = pd.read_parquet(path)
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    a, b = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    names = sorted(n for n in set(os.listdir(a)) | set(os.listdir(b))
                   if os.path.isdir(os.path.join(a, n))
                   or os.path.isdir(os.path.join(b, n)))
    if only is not None:
        names = [n for n in names if n in only]
    bad = []
    for n in names:
        pa, pb = os.path.join(a, n), os.path.join(b, n)
        if not (os.path.isdir(pa) and os.path.isdir(pb)):
            bad.append((n, "missing on one side"))
            continue
        da, db = canon(pa), canon(pb)
        if list(da.columns) != list(db.columns):
            bad.append((n, f"columns {list(da.columns)} vs {list(db.columns)}"))
        elif not da.equals(db):
            bad.append((n, f"rows differ ({len(da)} vs {len(db)} rows)"))
    for n, why in bad:
        print(f"DIFF {n}: {why}")
    print(f"{len(names) - len(bad)}/{len(names)} queries identical")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
