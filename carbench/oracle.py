"""DuckDB oracle gate for query outputs, in the canonical form of
tools/check_oracle.py: columns sorted by name, values as strings, rows
sorted.  Oracle results are cached per query, oracle text and data-dir
digest."""
import glob
import hashlib
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def data_digest(sf_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"{t}:{st.st_size}:{int(st.st_mtime)}".encode())
    return h.hexdigest()[:16]


def canon(con, sql):
    df = con.sql(sql).fetchdf()
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(df.astype(str).itertuples(index=False, name=None))
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    return {"cols": list(df.columns), "n": len(rows), "sha": digest}, rows


class Oracle:
    def __init__(self, sf_dir, cache_dir):
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        self.cache_dir = os.path.join(cache_dir, data_digest(sf_dir))
        os.makedirs(self.cache_dir, exist_ok=True)

    def expected(self, name, sql):
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f), None
        summary, rows = canon(self.con, sql)
        with open(path + ".tmp", "w") as f:
            json.dump(summary, f)
        os.replace(path + ".tmp", path)
        return summary, rows

    def check(self, name, sql, out_dir):
        """Failure reason for one query output dir, or None if it matches."""
        if not glob.glob(os.path.join(out_dir, "*.parquet")):
            return "no output files"
        got, got_rows = canon(self.con, f"SELECT * FROM '{out_dir}/*.parquet'")
        want, want_rows = self.expected(name, sql)
        if got["cols"] != want["cols"]:
            return f"columns {got['cols']} != oracle {want['cols']}"
        if got["n"] != want["n"]:
            return f"{got['n']} rows != oracle {want['n']}"
        if got["sha"] != want["sha"]:
            if want_rows is None:
                _, want_rows = canon(self.con, sql)
            diff = [(a, b) for a, b in zip(got_rows, want_rows) if a != b][:2]
            return f"values differ from oracle, first {diff}"
        return None
