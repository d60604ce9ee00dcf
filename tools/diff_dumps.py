#!/usr/bin/env python3
"""Compare two graft.Verify dump directories exactly.

Usage: python3 tools/diff_dumps.py <dumpA> <dumpB>

Each query's result (the parquet directory named after it) must hold the
same rows in both dumps: columns and rows are normalized as
tools/check_oracle.py does, floats compare bit for bit (signed zero
included), every other column by its canonical string form, and a dtype
difference is itself a difference. oracle_sql.json and failed.json must
parse to the same name -> text maps. Prints one DIFF line per differing
query or map entry and exits 1 if there is any, 0 otherwise.
"""
import json
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import compare_col, normalize  # noqa: E402

MAPS = ("oracle_sql.json", "failed.json")


def results(dump: str) -> set:
    return {n for n in os.listdir(dump) if os.path.isdir(os.path.join(dump, n))}


def diff_result(a: str, b: str):
    """Why the two result directories differ, or None if they match."""
    x, y = normalize(pd.read_parquet(a)), normalize(pd.read_parquet(b))
    if list(x.columns) != list(y.columns):
        return f"columns {list(x.columns)} vs {list(y.columns)}"
    if len(x) != len(y):
        return f"rows {len(x)} vs {len(y)}"
    bad = []
    for c in x.columns:
        r = compare_col(x[c], y[c], exact=True)
        if r is not None:
            bad.append((c,) + r)
    return f"values {bad}" if bad else None


def main(a: str, b: str) -> int:
    diffs = []
    for f in MAPS:
        ma, mb = (json.load(open(os.path.join(d, f))) for d in (a, b))
        for name in sorted(set(ma) | set(mb)):
            if name not in ma or name not in mb:
                diffs.append(f"{name}: {f} entry only in {a if name in ma else b}")
            elif ma[name] != mb[name]:
                diffs.append(f"{name}: {f} entries differ")
    ra, rb = results(a), results(b)
    for name in sorted(ra | rb):
        if name not in ra or name not in rb:
            diffs.append(f"{name}: result only in {a if name in ra else b}")
            continue
        why = diff_result(os.path.join(a, name), os.path.join(b, name))
        if why is not None:
            diffs.append(f"{name}: {why}")
    for d in diffs:
        print(f"DIFF {d}")
    n_bad = len({d.split(":", 1)[0] for d in diffs})
    print(f"{len(ra | rb)} results, {n_bad} queries differ; "
          f"oracle_sql.json {len(json.load(open(os.path.join(a, MAPS[0]))))} entries")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
