"""Oracle check of the benchmark's query outputs.

Each query's reference output (its warm-up execution, written as
parquet by the runner) is compared with its DuckDB oracle
(`SparkEntry.oracleSql`) the way tools/check.py compares: columns in
name order, rows sorted by their string form, values equal as strings.
Oracle results depend only on the SQL text and the input tables, so
they are cached by both; so is the digest of every output that passed,
and the runner skips writing an output whose digest already passed.
"""
import glob
import hashlib
import json
import os
import pickle

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def sha256(text):
    return hashlib.sha256(text.encode()).hexdigest()


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) > 0:
        key = df.astype(str)
        df = df.loc[key.sort_values(by=list(df.columns)).index]
    return df.reset_index(drop=True)


def compare(got, want):
    """None when equal, else the first difference as one line."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    eq = got.astype(str).eq(want.astype(str))
    if bool(eq.all().all()):
        return None
    bad = ~eq.all(axis=1)
    i = bad[bad].index[0]
    c = next(c for c in got.columns if str(got.at[i, c]) != str(want.at[i, c]))
    return (f"{int(bad.sum())}/{len(got)} rows differ; row {i} col {c}: "
            f"spark={got.at[i, c]!r} oracle={want.at[i, c]!r}")


class Oracle:
    def __init__(self, data_dir, cache_dir, data_stamp):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.data_stamp = data_stamp
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)
        self._verified_file = os.path.join(cache_dir, f"verified-{data_stamp}.json")
        self.verified = set()
        if os.path.exists(self._verified_file):
            with open(self._verified_file) as fh:
                self.verified = {tuple(v) for v in json.load(fh)}

    def passed(self, name, sql, digest):
        self.verified.add((name, sha256(sql), digest))
        tmp = self._verified_file + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(sorted(self.verified), fh)
        os.replace(tmp, self._verified_file)

    def _connection(self):
        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            for t in TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self._con

    def expected(self, sql):
        key = sha256(self.data_stamp + "\0" + sql)
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        want = norm(self._connection().execute(sql).df())
        tmp = path + ".tmp"
        with open(tmp, "wb") as fh:
            pickle.dump(want, fh)
        os.replace(tmp, path)
        return want

    def check(self, name, sql, output_dir):
        """None when the query's written output matches its oracle, else
        the cause of the mismatch."""
        import pandas as pd
        files = sorted(glob.glob(os.path.join(output_dir, name, "*.parquet")))
        if not files:
            return "no output written"
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in files]))
            return compare(got, self.expected(sql))
        except Exception as e:  # an oracle or read error is a failed check
            return f"{type(e).__name__}: {e}"

    def close(self):
        if self._con is not None:
            self._con.close()
