"""Independent model of the car-sales pipeline's bronze, silver and gold
state, in DuckDB SQL, and the checkers that compare the engine's tables
against it.

The model follows the semantics in FIXTURES.md section 6 and never reads
engine output:

  - bronze change capture: a batch keeps its rows past the watermark plus
    its rows at or before it that bronze does not already hold (a bag
    difference); bronze and silver then hold only that captured batch;
  - silver adds model_category = split(Model_ID, '-')[0] and
    RevPerUnit = Revenue / Units_Sold;
  - each dimension gives new natural keys contiguous surrogate keys
    max(key) + rank over the natural key, keeps existing keys, and
    overwrites attributes with the batch's values (SCD1);
  - the fact table is silver joined to the dimensions; an incremental batch
    pre-aggregates its rows to the 4-key grain and upserts them (matched
    rows take the batch's values, others are inserted).
"""
import glob
import os

import duckdb
import pandas as pd

BRONZE = [("Branch_ID", "VARCHAR"), ("Dealer_ID", "VARCHAR"), ("Model_ID", "VARCHAR"),
          ("Revenue", "BIGINT"), ("Units_Sold", "BIGINT"), ("Date_ID", "VARCHAR"),
          ("Day", "INTEGER"), ("Month", "INTEGER"), ("Year", "INTEGER"),
          ("BranchName", "VARCHAR"), ("DealerName", "VARCHAR")]
RAW = [c for c, _ in BRONZE[:11]] + ["Product_Name"]
SILVER = BRONZE + [("model_category", "VARCHAR"), ("RevPerUnit", "DOUBLE")]
# (table, surrogate key, natural key, attributes)
DIMS = [("dim_branch", "dim_branch_key", "Branch_ID", ["BranchName"]),
        ("dim_dealer", "dim_dealer_key", "Dealer_ID", ["DealerName"]),
        ("dim_model", "dim_model_key", "Model_ID", ["model_category"]),
        ("dim_date", "dim_date_key", "Date_ID", [])]
FACT_KEYS = [k for _, k, _, _ in DIMS]
FACT_COLS = ["Revenue", "Units_Sold", "RevPerUnit"] + FACT_KEYS
TABLES = [d[0] for d in DIMS] + ["factsales"]


def table_columns(table):
    if table == "factsales":
        return FACT_COLS
    _, key, nk, attrs = next(d for d in DIMS if d[0] == table)
    return [key, nk] + attrs


class Model:
    """The bronze, silver and gold state after each `apply(rows)`, one call
    per pipeline run."""

    def __init__(self):
        self.con = duckdb.connect()
        self.watermark = None
        self.loaded = False
        cols = ", ".join(f"{c} {t}" for c, t in BRONZE)
        self.con.execute(f"CREATE TABLE bronze ({cols})")

    def apply(self, rows, gold=True):
        con = self.con
        batch = pd.DataFrame([r[:11] for r in rows], columns=RAW[:11], dtype=object)
        con.register("batch_df", batch)
        casts = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in BRONZE)
        con.execute(f"CREATE OR REPLACE TEMP TABLE batch AS SELECT {casts} FROM batch_df")
        con.unregister("batch_df")
        wm = self.watermark
        if wm is None:
            con.execute("CREATE OR REPLACE TEMP TABLE captured AS SELECT * FROM batch")
        else:
            con.execute("""
                CREATE OR REPLACE TEMP TABLE captured AS
                SELECT * FROM batch WHERE Date_ID > $wm
                UNION ALL
                (SELECT * FROM batch WHERE Date_ID <= $wm AND Year IS NOT NULL
                 EXCEPT ALL
                 SELECT * FROM bronze)
                UNION ALL
                SELECT * FROM batch WHERE Date_ID <= $wm AND Year IS NULL""", {"wm": wm})
        top = con.execute("SELECT max(Date_ID) FROM captured").fetchone()[0]
        if top is not None:
            self.watermark = top if wm is None else max(wm, top)
        con.execute("DELETE FROM bronze")
        con.execute("INSERT INTO bronze SELECT * FROM captured")
        con.execute("""
            CREATE OR REPLACE TEMP TABLE silver AS
            SELECT *, split_part(Model_ID, '-', 1) AS model_category,
                   CAST(Revenue AS DOUBLE) / CAST(Units_Sold AS DOUBLE) AS RevPerUnit
            FROM captured""")
        if not gold:
            return
        for table, key, nk, attrs in DIMS:
            self._dimension(table, key, nk, attrs)
        self._fact()
        self.loaded = True

    def _dimension(self, table, key, nk, attrs):
        con = self.con
        if not self.loaded:
            cols = ", ".join([f"{key} BIGINT", f"{nk} VARCHAR"] + [f"{a} VARCHAR" for a in attrs])
            con.execute(f"CREATE TABLE {table} ({cols})")
        src_cols = ", ".join([nk] + attrs)
        s_attrs = "".join(f", s.{a}" for a in attrs)
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE result AS
            WITH src AS (SELECT DISTINCT {src_cols} FROM silver),
            mx AS (SELECT coalesce(max({key}), 0) AS m FROM {table})
            SELECT d.{key} AS {key}, s.{nk}{s_attrs}
            FROM src s JOIN {table} d ON s.{nk} = d.{nk}
            UNION ALL
            SELECT (SELECT m FROM mx) + row_number() OVER (ORDER BY s.{nk}) AS {key},
                   s.{nk}{s_attrs}
            FROM src s WHERE NOT EXISTS (SELECT 1 FROM {table} d WHERE d.{nk} = s.{nk})""")
        con.execute(f"DELETE FROM {table} WHERE {key} IN (SELECT {key} FROM result)")
        con.execute(f"INSERT INTO {table} SELECT * FROM result")

    def _fact(self):
        con = self.con
        joins = " ".join(
            f"LEFT JOIN {t} ON s.{nk} = {t}.{nk}" for t, _, nk, _ in DIMS)
        keys = ", ".join(f"{t}.{k} AS {k}" for t, k, _, _ in DIMS)
        plan = f"SELECT s.Revenue, s.Units_Sold, s.RevPerUnit, {keys} FROM silver s {joins}"
        if not self.loaded:
            con.execute(f"CREATE TABLE factsales AS {plan}")
            return
        klist = ", ".join(FACT_KEYS)
        on = " AND ".join(f"t.{k} = s.{k}" for k in FACT_KEYS)
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE src AS
            SELECT CAST(sum(Revenue) AS BIGINT) AS Revenue,
                   CAST(sum(Units_Sold) AS BIGINT) AS Units_Sold,
                   CAST(sum(Revenue) AS DOUBLE) / CAST(sum(Units_Sold) AS DOUBLE) AS RevPerUnit,
                   {klist}
            FROM ({plan}) GROUP BY {klist}""")
        picked = ", ".join(
            f"CASE WHEN s.{FACT_KEYS[0]} IS NOT NULL THEN s.{c} ELSE t.{c} END AS {c}"
            for c in FACT_COLS)
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE merged AS
            SELECT {picked} FROM factsales t LEFT JOIN src s ON {on}
            UNION ALL
            SELECT s.* FROM src s WHERE NOT EXISTS (SELECT 1 FROM factsales t WHERE {on})""")
        con.execute("DELETE FROM factsales")
        con.execute("INSERT INTO factsales SELECT * FROM merged")

    def export(self, out_dir):
        """Writes the current gold state as parquet, one dir per table."""
        for t in TABLES:
            d = os.path.join(out_dir, t)
            os.makedirs(d, exist_ok=True)
            self.con.execute(f"COPY {t} TO '{d}/part-0.parquet' (FORMAT PARQUET)")
        return {t: [os.path.join(out_dir, t)] for t in TABLES}

    def changed_rows(self, before):
        """Rows per table that are new or changed since `before`."""
        return {t: len(set(self.rows(t)) - before[t]) for t in TABLES}

    def snapshot(self):
        return {t: set(self.rows(t)) for t in TABLES}

    def rows(self, table):
        return self.con.execute(f"SELECT * FROM {table}").fetchall()


def _load_engine_table(con, table, dirs):
    files = sorted(f for d in dirs for f in glob.glob(os.path.join(d, "*.parquet")))
    cols = ", ".join(table_columns(table))
    if not files:
        con.execute(f"CREATE OR REPLACE TEMP TABLE e_{table} AS "
                    f"SELECT {cols} FROM {table} WHERE false")
    else:
        con.execute(f"CREATE OR REPLACE TEMP TABLE e_{table} AS "
                    f"SELECT {cols} FROM read_parquet($f)", {"f": files})


def check(model, engine_dirs):
    """Compares the engine's gold tables (table -> list of data dirs) with
    the model's current state; returns a list of failure reasons."""
    con = model.con
    reasons = []
    for table in TABLES:
        if table not in engine_dirs:
            reasons.append(f"{table}: missing")
            continue
        try:
            _load_engine_table(con, table, engine_dirs[table])
        except duckdb.Error as e:
            reasons.append(f"{table}: unreadable ({str(e).splitlines()[0]})")
            continue
        e = f"e_{table}"
        if table != "factsales":
            _, key, nk, attrs = next(d for d in DIMS if d[0] == table)
            n, nd, lo, hi = con.execute(
                f"SELECT count(*), count(DISTINCT {key}), min({key}), max({key}) FROM {e}").fetchone()
            if n != nd:
                reasons.append(f"{table}: {n} rows but {nd} distinct keys")
            elif n and (lo != 1 or hi != n):
                reasons.append(f"{table}: keys {lo}..{hi} not contiguous 1..{n}")
            moved = con.execute(
                f"SELECT count(*) FROM {table} m JOIN {e} x ON m.{nk} = x.{nk} "
                f"WHERE m.{key} <> x.{key}").fetchone()[0]
            if moved:
                reasons.append(f"{table}: {moved} natural keys carry another surrogate key than expected")
            for a in attrs:
                stale = con.execute(
                    f"SELECT count(*) FROM {table} m JOIN {e} x ON m.{nk} = x.{nk} "
                    f"WHERE m.{a} IS DISTINCT FROM x.{a}").fetchone()[0]
                if stale:
                    reasons.append(f"{table}: {stale} rows with a wrong {a}")
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {table} EXCEPT ALL SELECT * FROM {e})").fetchone()[0]
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {e} EXCEPT ALL SELECT * FROM {table})").fetchone()[0]
        if missing or extra:
            reasons.append(f"{table}: {missing} expected rows missing, {extra} unexpected rows")
    return reasons


def _fingerprint(con, relation, cols):
    """(rows, order-independent hash sum) of `relation` over `cols`."""
    casts = ", ".join(f"CAST({c} AS {t})" for c, t in cols)
    n, h = con.execute(f"SELECT count(*), sum(hash({casts})) FROM {relation}").fetchone()
    return n, h or 0


def check_layers(model, check_dir):
    """Compares the engine's bronze and silver (parquet copies under
    check_dir/{bronze,silver}, Hive-partitioned) with the model's, as
    bags of rows; returns a list of failure reasons."""
    con = model.con
    reasons = []
    for layer, cols in (("bronze", BRONZE), ("silver", SILVER)):
        files = sorted(glob.glob(os.path.join(check_dir, layer, "**", "*.parquet"),
                                 recursive=True))
        sel = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in cols)
        if files:
            src = "read_parquet($f, hive_partitioning = true, union_by_name = true)"
        else:  # an empty batch leaves no data files
            src = f"{layer} WHERE false"
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE e_{layer} AS SELECT {sel} FROM {src}",
                        {"f": files} if files else {})
        except duckdb.Error as e:
            reasons.append(f"{layer}: unreadable ({str(e).splitlines()[0]})")
            continue
        if _fingerprint(con, layer, cols) == _fingerprint(con, f"e_{layer}", cols):
            continue
        names = ", ".join(c for c, _ in cols)
        missing = con.execute(f"SELECT count(*) FROM (SELECT {names} FROM {layer} "
                              f"EXCEPT ALL SELECT {names} FROM e_{layer})").fetchone()[0]
        extra = con.execute(f"SELECT count(*) FROM (SELECT {names} FROM e_{layer} "
                            f"EXCEPT ALL SELECT {names} FROM {layer})").fetchone()[0]
        reasons.append(f"{layer}: {missing} expected rows missing, {extra} unexpected rows")
    return reasons
