#!/usr/bin/env python3
"""Compare the oracle SQL text of two graft.Verify dumps, query by query.

Usage: python3 scratch/oracle_diff.py <dump_a>/oracle_sql.json <dump_b>/oracle_sql.json

Every run of whitespace outside a single-quoted literal collapses to one
space (leading and trailing whitespace drop); literals are kept byte for
byte. The two normalized strings of each query must be identical. For
each mismatch the first differing token is printed. Exits nonzero when
any string differs or a query is missing from either side.

A `--` or `/*` comment outside a literal would make whitespace carry
meaning (a line comment ends at a newline), so such input is refused
rather than normalized."""
import json
import sys


def tokens(sql: str, name: str) -> list:
    """Whitespace-separated tokens; a single-quoted literal (with `''`
    escapes) never splits and keeps its inner whitespace."""
    out, cur, i, n = [], [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while True:
                if j >= n:
                    raise SystemExit(f"{name}: unterminated literal")
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            cur.append(sql[i:j + 1])
            i = j + 1
        elif c.isspace():
            if cur:
                out.append("".join(cur))
                cur = []
            i += 1
        else:
            if sql.startswith("--", i) or sql.startswith("/*", i):
                raise SystemExit(f"{name}: comment outside a literal at "
                                 f"offset {i}; refusing to normalize")
            cur.append(c)
            i += 1
    if cur:
        out.append("".join(cur))
    return out


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    a = json.load(open(sys.argv[1]))
    b = json.load(open(sys.argv[2]))
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"{name}: missing on the {'first' if name not in a else 'second'} side")
            bad += 1
            continue
        ta, tb = tokens(a[name], name), tokens(b[name], name)
        if ta == tb:
            continue
        bad += 1
        k = next((i for i, (x, y) in enumerate(zip(ta, tb)) if x != y),
                 min(len(ta), len(tb)))
        show = lambda t: t[k] if k < len(t) else "<end>"
        ctx = " ".join(ta[max(0, k - 4):k])
        print(f"{name}: token {k} after '{ctx}': {show(ta)!r} vs {show(tb)!r}")
    total = len(set(a) | set(b))
    print(f"{total - bad}/{total} oracle strings identical")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
