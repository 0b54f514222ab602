#!/usr/bin/env python3
"""Local pre-flight for the driver's t2 gate (dev tooling only — the
Scala library has no Python dependency).

Runs graft.Verify's parquet dumps against the DuckDB oracle SQL exactly
the way the driver does: views named after the test tables, columns
sorted by name, values compared exactly after row sort.

Usage: tools/check.py <sfDir> <verifyOutDir> [onlyPrefixes]
(onlyPrefixes: comma-separated query-name prefixes — lets a wrapper
drive one query at a time, e.g. with a per-query timeout for the 10x
fixture where a few deliberately-quadratic oracles are infeasible.)
"""
import json, sys, glob, os, shutil

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Disk left free under DuckDB's temp spill: an oracle whose spill would
# eat into it fails with DuckDB's max_temp_directory_size error instead
# of filling the disk (the all-pairs q_dedup_lsh_design oracle spills
# 12-17 GB at sf0.1).
TEMP_RESERVE_BYTES = 1 << 30


def connect(sf_dir: str):
    """A DuckDB connection with one view per test table present in
    `sf_dir`, its temp spill capped at the free disk less the reserve."""
    con = duckdb.connect()
    tmp = con.execute("SELECT current_setting('temp_directory')").fetchone()[0]
    free = shutil.disk_usage(os.path.dirname(os.path.abspath(tmp))).free
    cap_mib = max(free - TEMP_RESERVE_BYTES, 0) >> 20
    con.execute(f"SET max_temp_directory_size = '{cap_mib}MiB'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table (e.g. the 10x probe fixture)
            p = f"{p}/*.parquet"
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical row order: sort by every column (stringified for mixed types)
    if len(df) > 0:
        key = df.astype(str)
        df = df.loc[key.sort_values(by=list(df.columns)).index]
    return df.reset_index(drop=True)


def main(sf_dir: str, out_dir: str, only: str = "") -> int:
    prefixes = [p for p in only.split(",") if p]
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if prefixes and not any(name.startswith(p) for p in prefixes):
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
            want = norm(con.execute(oracle[name]).df())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
            n_fail += 1; continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); n_fail += 1; continue
        eq = got.astype(str).eq(want.astype(str))
        if not bool(eq.all().all()):
            bad = (~eq.all(axis=1))
            idx = list(bad[bad].index[:3])
            print(f"FAIL {name}: {int(bad.sum())}/{len(got)} rows differ; first diffs:")
            for i in idx:
                for c in got.columns:
                    if str(got.at[i, c]) != str(want.at[i, c]):
                        print(f"  row {i} col {c}: spark={got.at[i, c]!r} duck={want.at[i, c]!r}")
            n_fail += 1; continue
        # dtype report (informational — driver may compare schemas)
        dt = [(c, str(got[c].dtype), str(want[c].dtype))
              for c in got.columns if str(got[c].dtype) != str(want[c].dtype)]
        note = f"  [dtype diff: {dt}]" if dt else ""
        print(f"PASS {name} ({len(got)} rows){note}")
        n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    n_fail += check_round_artifacts()
    return 1 if n_fail else 0


def check_round_artifacts() -> int:
    """Rounds 10-12 all ended with BENCH_r*/CORRECTNESS_r* untracked at
    judging time (VERDICT r12 #1). Every pre-flight run now fails until
    the verification artifacts are committed — a check, not a habit."""
    import subprocess
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run(["git", "status", "--porcelain"], cwd=repo,
                             capture_output=True, text=True, timeout=30).stdout
    except Exception as e:  # not a git checkout / git missing: not this tool's problem
        print(f"note: artifact-tracking check skipped ({e})")
        return 0
    import fnmatch
    pats = ["BENCH_r*.json", "CORRECTNESS_r*.json", "BENCH_FULL.json",
            "BENCH_LINE.json", "LEAKCHECK.json", "COPYCHECK.json"]
    dirty = []
    for line in out.splitlines():
        status, name = line[:2], line[3:].strip()
        if any(fnmatch.fnmatch(name, p) for p in pats):
            dirty.append(f"{status.strip() or '??'} {name}")
    if dirty:
        print("FAIL round artifacts untracked/modified — commit them:")
        for d in dirty:
            print(f"  {d}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else ""))
