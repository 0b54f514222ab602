#!/usr/bin/env python3
"""Oracle-rows checker: prove a rewrite of the oracle SQL kept every
oracle's rows (dev tooling only — the Scala library has no Python
dependency).

For every query whose SQL text differs between two `oracle_sql.json`
dumps (graft.Verify writes one per run), runs both versions in DuckDB
over the same table views as tools/check.py, normalizes both results
with check.py's `norm` (columns by name, rows sorted), and prints one
line per changed oracle:

  SAME <name>                      identical columns and rows
  DIFF <name>: <first difference>  columns, row count or first differing row
  NOT RUN <name>: <cause>          a version failed to run (e.g. the
                                   DuckDB temp-disk limit) — never SAME

A query present in only one dump is a DIFF. Unchanged SQL is not run.

Usage: tools/oracle_diff.py <sfDir> <old oracle_sql.json> <new oracle_sql.json> [onlyPrefixes]
(onlyPrefixes: comma-separated query-name prefixes, as in check.py.)
Exit status: 1 on any DIFF, else 2 on any NOT RUN, else 0.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import connect, norm  # noqa: E402


def first_diff(old, new) -> str:
    """'' when the normalized frames are equal, else the first difference."""
    if list(old.columns) != list(new.columns):
        return f"columns {list(old.columns)} vs {list(new.columns)}"
    if len(old) != len(new):
        return f"rows {len(old)} vs {len(new)}"
    eq = old.astype(str).eq(new.astype(str))
    if bool(eq.all().all()):
        return ""
    i = (~eq.all(axis=1)).idxmax()
    cols = [c for c in old.columns if str(old.at[i, c]) != str(new.at[i, c])]
    return f"row {i}: " + ", ".join(
        f"{c} old={old.at[i, c]!r} new={new.at[i, c]!r}" for c in cols)


def main(sf_dir: str, old_path: str, new_path: str, only: str = "") -> int:
    prefixes = [p for p in only.split(",") if p]
    old = json.load(open(old_path))
    new = json.load(open(new_path))
    n_same = n_diff = n_not_run = n_unchanged = 0
    for name in sorted(set(old) | set(new)):
        if prefixes and not any(name.startswith(p) for p in prefixes):
            continue
        if name not in old or name not in new:
            side = "new" if name not in old else "old"
            print(f"DIFF {name}: only in the {side} dump", flush=True)
            n_diff += 1
            continue
        if old[name] == new[name]:
            n_unchanged += 1
            continue
        # A fresh connection per oracle: one run's temp spill is freed
        # before the next starts.
        con = connect(sf_dir)
        try:
            want = norm(con.execute(old[name]).df())
            got = norm(con.execute(new[name]).df())
        except Exception as e:
            cause = " ".join(str(e).split())[:300]
            print(f"NOT RUN {name}: {cause}", flush=True)
            n_not_run += 1
            continue
        finally:
            con.close()
        d = first_diff(want, got)
        if d:
            print(f"DIFF {name}: {d}", flush=True)
            n_diff += 1
        else:
            print(f"SAME {name} ({len(got)} rows)", flush=True)
            n_same += 1
    print(f"== {n_same} same / {n_diff} diff / {n_not_run} not run "
          f"({n_unchanged} unchanged) ==")
    return 1 if n_diff else 2 if n_not_run else 0


if __name__ == "__main__":
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3],
                  sys.argv[4] if len(sys.argv) > 4 else ""))
