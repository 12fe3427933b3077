"""Oracle gate: each op's output against its DuckDB oracle query.

The JVM writes every op's output as parquet under `<verify_dir>/<op>/`;
`check` runs the op's oracle SQL in DuckDB over the same input tables
and compares after the normalization `tools/check_oracle.py` applies
(columns sorted by name, cells as strings, rows sorted). An op without
an oracle query passes when it returned at least one row. Expected
results are cached under `cache_dir`, keyed by the input snapshot and
the SQL text.
"""
import glob
import hashlib
import os
import pickle
import shutil
import tempfile

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def table_files(input_dir, table):
    """The parquet files of one table: a file, or a directory of parts."""
    p = os.path.join(input_dir, f"{table}.parquet")
    return sorted(glob.glob(os.path.join(p, "*.parquet"))) if os.path.isdir(p) else [p]


def snapshot(input_dir):
    """A digest of the input tables' bytes."""
    h = hashlib.sha256()
    for t in TABLES:
        for p in table_files(input_dir, t):
            with open(p, "rb") as f:
                h.update(os.path.relpath(p, input_dir).encode())
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class Oracle:
    def __init__(self, input_dir, cache_dir, threads):
        self.input_dir = input_dir
        self.cache_dir = cache_dir
        self.snap = snapshot(input_dir)
        self.threads = threads
        self.con = None
        self.spill = None

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            self.con.execute(f"SET threads={int(self.threads)}")
            self.con.execute("SET memory_limit='2GB'")
            self.spill = tempfile.mkdtemp(dir=self.cache_dir)
            self.con.execute(f"SET temp_directory='{self.spill}'")
            for t in TABLES:
                files = ", ".join(f"'{p}'" for p in table_files(self.input_dir, t))
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet([{files}])")
        return self.con

    def expected(self, sql):
        key = hashlib.sha256(f"{self.snap}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        want = norm(self._connect().execute(sql).fetchdf())
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(want, f)
        os.replace(tmp, path)
        return want

    def close(self):
        if self.con is not None:
            self.con.close()
            shutil.rmtree(self.spill, ignore_errors=True)


def compare(got, want):
    """None when the normalized frames agree, else what differs."""
    g = norm(got)
    if list(g.columns) != list(want.columns):
        return f"columns spark={list(g.columns)} duck={list(want.columns)}"
    if len(g) != len(want):
        return f"rows spark={len(g)} duck={len(want)}"
    if not g.equals(want):
        diff = (g != want).any(axis=1)
        return f"{int(diff.sum())}/{len(g)} rows differ"
    return None


def check(input_dir, verify_dir, oracles, cache_dir, threads):
    """Map op name -> None (output correct) or a one-line reason.

    `oracles` maps each op to its SQL text, or None for a rows-only op.
    """
    os.makedirs(cache_dir, exist_ok=True)
    o = Oracle(input_dir, cache_dir, threads)
    out = {}
    try:
        for name, sql in sorted(oracles.items()):
            files = glob.glob(os.path.join(verify_dir, name, "*.parquet"))
            if not files:
                out[name] = "no output"
                continue
            got = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
            if sql is None:
                out[name] = None if len(got) > 0 else "empty output (rows-only op)"
                continue
            try:
                out[name] = compare(got, o.expected(sql))
            except Exception as e:  # an oracle that cannot run fails the op
                out[name] = f"oracle failed: {type(e).__name__}: {e}"
    finally:
        o.close()
    return out
