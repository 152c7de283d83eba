#!/usr/bin/env python3
"""Cross-round bench regression diff.

Usage: python3 scratch/bench_diff.py [OLD.json] [NEW.json]

Defaults: OLD = the newest BENCH_r*.json with a parseable per-query
map, NEW = BENCH_LOCAL.json. Prints per-query ratios for queries
slower by >1.5x or faster by >1.5x, plus totals. A record with a
"passes" map adopts the minimum of two passes per query; when only
one of the two records has it, a warning names the single-pass one,
since min-of-two is never compared against a single-pass record.
A BROAD uniform slowdown across untouched queries means machine
contention, not a regression — re-run the bench alone (see the
bench-needs-exclusive-machine note): graft.Bench numbers are only
comparable from uncontended runs.
"""
import glob
import json
import re
import sys


def load_queries(path):
    """(per-query seconds, total, whether the record is two-pass)."""
    with open(path) as f:
        txt = f.read()
    try:
        d = json.loads(txt)
    except json.JSONDecodeError:
        m = re.search(r'\{"metric".*\}', txt)
        d = json.loads(m.group(0)) if m else {}
    parsed = d.get("parsed")
    if isinstance(parsed, dict) and parsed.get("queries"):
        return ({k: float(v) for k, v in parsed["queries"].items()},
                float(parsed.get("value", 0)), "passes" in parsed)
    qs = d.get("queries")
    if qs:
        return ({k: float(v) for k, v in qs.items()},
                float(d.get("value", 0)), "passes" in d)
    # driver BENCH_r*.json keeps per-query pairs only in the raw tail
    tail = d.get("tail", "")
    pairs = re.findall(r'"(q\w+)":([\d.]+)', tail)
    total = float(parsed.get("value", 0)) if isinstance(parsed, dict) else 0
    return {k: float(v) for k, v in pairs}, total, '"passes":' in tail


def main():
    old_path = sys.argv[1] if len(sys.argv) > 1 else None
    new_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH_LOCAL.json"
    if old_path is None:
        for cand in sorted(glob.glob("BENCH_r*.json"), reverse=True):
            qs, _, _ = load_queries(cand)
            if qs:
                old_path = cand
                break
    if old_path is None:
        sys.exit("no comparable BENCH_r*.json found")
    old, old_total, old_two = load_queries(old_path)
    new, new_total, new_two = load_queries(new_path)
    print(f"old {old_path}: {old_total:.1f}s/{len(old)}q   "
          f"new {new_path}: {new_total:.1f}s/{len(new)}q")
    if old_two != new_two:
        single = new_path if old_two else old_path
        print(f"WARNING: {single} is a single-pass record and the other "
              "is min-of-two-passes — the two are not comparable")
    shared = sorted(set(old) & set(new))
    flagged = []
    for q in shared:
        if old[q] <= 0:
            continue
        r = new[q] / old[q]
        if r > 1.5 or r < 1 / 1.5:
            flagged.append((r, q))
    for r, q in sorted(flagged, reverse=True):
        print(f"  {'SLOWER' if r > 1 else 'faster'} {r:5.2f}x  {q}  "
              f"{old[q]:.2f}s -> {new[q]:.2f}s")
    added = sorted(set(new) - set(old))
    if added:
        print("new-only:", ", ".join(f"{q} {new[q]:.2f}s" for q in added))
    broad = sum(1 for r, _ in flagged if r > 1.5)
    if shared and broad > len(shared) // 3:
        print(f"WARNING: {broad}/{len(shared)} shared queries >1.5x slower "
              "— likely machine contention, re-run the bench alone")


if __name__ == "__main__":
    main()
