#!/usr/bin/env python3
"""Spark-output checker: prove a change kept every query's result exactly
(dev tooling only — the Scala library has no Python dependency).

Compares two graft.Verify output directories (one per run, e.g. the
parent commit's and the change's) query by query, reading each query's
parquet part files in name order. Unlike tools/check.py, nothing is
normalized: row ORDER, column names and order, and column types must all
match, and values compare by their Python repr (so NaN equals NaN and
-0.0 differs from 0.0). Prints one line per query:

  SAME <name> (<rows> rows)        identical schema and rows, in order
  DIFF <name>: <first difference>  schema, row count or first differing row
  MISSING <name>: <cause>          output only in one directory, or no
                                   parquet part files in a directory

Usage: tools/output_diff.py <old verify dir> <new verify dir> [onlyPrefixes]
(onlyPrefixes: comma-separated query-name prefixes, as in check.py.)
Exit status: 1 on any DIFF, else 2 on any MISSING, else 0.
"""
import glob
import os
import sys

import pyarrow.parquet as pq


def queries(out_dir: str) -> set:
    return {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}


def load(query_dir: str):
    """(schema as [(name, type)], rows as reprs), or None without parts."""
    files = sorted(glob.glob(os.path.join(query_dir, "*.parquet")))
    if not files:
        return None
    tables = [pq.read_table(f) for f in files]
    schema = [(f.name, str(f.type)) for f in tables[0].schema]
    rows = [repr(r) for t in tables for r in t.to_pylist()]
    return schema, rows


def first_diff(old, new) -> str:
    """'' when schema and rows are identical, else the first difference."""
    (old_schema, old_rows), (new_schema, new_rows) = old, new
    if old_schema != new_schema:
        return f"schema {old_schema} vs {new_schema}"
    for i, (a, b) in enumerate(zip(old_rows, new_rows)):
        if a != b:
            return f"row {i}: old={a} new={b}"
    if len(old_rows) != len(new_rows):
        return f"rows {len(old_rows)} vs {len(new_rows)}"
    return ""


def main(old_dir: str, new_dir: str, only: str = "") -> int:
    prefixes = [p for p in only.split(",") if p]
    old_q, new_q = queries(old_dir), queries(new_dir)
    n_same = n_diff = n_missing = 0
    for name in sorted(old_q | new_q):
        if prefixes and not any(name.startswith(p) for p in prefixes):
            continue
        if name not in old_q or name not in new_q:
            side = "new" if name not in old_q else "old"
            print(f"MISSING {name}: only in the {side} directory", flush=True)
            n_missing += 1
            continue
        old, new = load(os.path.join(old_dir, name)), load(os.path.join(new_dir, name))
        if old is None or new is None:
            side = "old" if old is None else "new"
            print(f"MISSING {name}: no parquet parts in the {side} directory", flush=True)
            n_missing += 1
            continue
        d = first_diff(old, new)
        if d:
            print(f"DIFF {name}: {d}", flush=True)
            n_diff += 1
        else:
            print(f"SAME {name} ({len(new[1])} rows)", flush=True)
            n_same += 1
    print(f"== {n_same} same / {n_diff} diff / {n_missing} missing ==")
    return 1 if n_diff else 2 if n_missing else 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
