"""Seeded generator of the TPC-H-ish tables the ops_mix queries read.

Writes one parquet file per table, with the column names and types of the
engine's test data (see TESTDATA.md): region, nation, supplier, customer,
part, orders, lineitem, events and documents.  Timestamps are written as
TIMESTAMP (microseconds, not UTC-adjusted), as there.  The same seed gives
the same files.  Sizes are about those of scale factor 0.01 (60,000
lineitem rows), with 250 documents.

    python3 carbench/opsdata.py <out_dir> --seed 1
"""
import argparse
import datetime
import os
import random

import duckdb
import pandas as pd

N_SUPPLIER, N_CUSTOMER, N_PART, N_ORDERS, N_EVENTS, N_DOCS = 100, 1500, 2000, 15000, 10000, 250
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass", "ivory"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "clip"]
TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ["a", "the", "row", "key", "agg", "scan", "slow", "fast", "table", "value",
         "part", "hash", "merge", "batch", "line", "sort", "window", "spark", "data",
         "column", "join", "small", "big", "customer", "query", "order", "group",
         "filter", "stream", "vector"]
TS = "TIMESTAMP"
SCHEMAS = {
    "region": [("r_regionkey", "INTEGER"), ("r_name", "VARCHAR")],
    "nation": [("n_nationkey", "INTEGER"), ("n_name", "VARCHAR"), ("n_regionkey", "INTEGER")],
    "supplier": [("s_suppkey", "BIGINT"), ("s_name", "VARCHAR"), ("s_nationkey", "INTEGER"),
                 ("s_acctbal", "DOUBLE")],
    "customer": [("c_custkey", "BIGINT"), ("c_name", "VARCHAR"), ("c_nationkey", "INTEGER"),
                 ("c_acctbal", "DOUBLE"), ("c_mktsegment", "VARCHAR")],
    "part": [("p_partkey", "BIGINT"), ("p_name", "VARCHAR"), ("p_brand", "VARCHAR"),
             ("p_type", "VARCHAR"), ("p_size", "INTEGER"), ("p_retailprice", "DOUBLE")],
    "orders": [("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"), ("o_orderstatus", "VARCHAR"),
               ("o_totalprice", "DOUBLE"), ("o_orderdate", TS), ("o_orderpriority", "VARCHAR")],
    "lineitem": [("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"), ("l_suppkey", "BIGINT"),
                 ("l_linenumber", "INTEGER"), ("l_quantity", "DOUBLE"),
                 ("l_extendedprice", "DOUBLE"), ("l_discount", "DOUBLE"), ("l_tax", "DOUBLE"),
                 ("l_returnflag", "VARCHAR"), ("l_linestatus", "VARCHAR"), ("l_shipdate", TS)],
    "events": [("event_id", "BIGINT"), ("ts", TS), ("user_id", "BIGINT"),
               ("event_type", "VARCHAR"), ("value", "DOUBLE"), ("props", "VARCHAR")],
    "documents": [("doc_id", "BIGINT"), ("text", "VARCHAR"), ("lang", "VARCHAR"),
                  ("source", "VARCHAR"), ("n_chars", "BIGINT")],
}


def _money(rng, lo, hi):
    return round(rng.uniform(lo, hi), 2)


def _tables(seed):
    rng = random.Random(seed)
    day = datetime.timedelta(days=1)
    t = {"region": [(i, n) for i, n in enumerate(
        ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])]}
    t["nation"] = [(i, f"NATION_{i}", i % 5) for i in range(25)]
    t["supplier"] = [(i, f"Supplier#{i:09d}", rng.randrange(25), _money(rng, -999, 9999))
                     for i in range(N_SUPPLIER)]
    t["customer"] = [(i, f"Customer#{i:09d}", rng.randrange(25), _money(rng, -999, 9999),
                      rng.choice(SEGMENTS)) for i in range(N_CUSTOMER)]
    t["part"] = [(i, f"{rng.choice(COLORS)} {rng.choice(NOUNS)}", f"Brand#{rng.randint(1, 25)}",
                  rng.choice(TYPES), rng.randint(1, 50), round(900 + i * 0.1, 2))
                 for i in range(N_PART)]
    orders, lines = [], []
    start = datetime.datetime(1996, 1, 1)
    for o in range(N_ORDERS):
        odate = start + rng.randrange(6 * 365) * day
        total = 0.0
        statuses = set()
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            price = round(qty * _money(rng, 900, 2100), 2)
            ship = odate + rng.randint(1, 120) * day
            status = "F" if ship < datetime.datetime(2000, 6, 1) else "O"
            statuses.add(status)
            lines.append((o, rng.randrange(N_PART), rng.randrange(N_SUPPLIER), ln, qty, price,
                          rng.randint(0, 10) / 100, rng.randint(0, 8) / 100,
                          rng.choice("ANR"), status, ship))
            total += price
        status = statuses.pop() if len(statuses) == 1 else "P"
        orders.append((o, rng.randrange(N_CUSTOMER), status, round(total, 2), odate,
                       rng.choice(PRIORITIES)))
    t["orders"], t["lineitem"] = orders, lines
    ts = datetime.datetime(2024, 1, 1)
    events = []
    for e in range(N_EVENTS):
        ts += datetime.timedelta(microseconds=rng.randrange(1, 518_400_000))
        events.append((e, ts, rng.randrange(150), rng.choice(EVENT_TYPES),
                       _money(rng, 0.01, 60) if rng.random() < 0.95 else _money(rng, 60, 500),
                       f'{{"k": {rng.randrange(100)}}}'))
    t["events"] = events
    docs = []
    for d in range(N_DOCS):
        if d > 10 and rng.random() < 0.3:  # a near-duplicate of an earlier document
            _, text, lang, _, _ = docs[rng.randrange(len(docs))]
            words = text.split(" ")
            for _ in range(rng.randint(0, 2)):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words)
        else:
            text, lang = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(20, 80))), \
                rng.choice(LANGS)
        docs.append((d, text, lang, f"src{rng.randrange(20)}", len(text)))
    t["documents"] = docs
    return t


def generate(out_dir, seed):
    """Writes <table>.parquet for every table into out_dir (reused when a
    complete earlier output is there); returns out_dir."""
    done = os.path.join(out_dir, "DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for name, rows in _tables(seed).items():
        cols = SCHEMAS[name]
        df = pd.DataFrame(rows, columns=[c for c, _ in cols])
        con.register("df", df)
        sel = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in cols)
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY (SELECT {sel} FROM df) TO '{path}.tmp' (FORMAT PARQUET)")
        con.unregister("df")
        os.replace(path + ".tmp", path)
    open(done, "w").close()
    return out_dir


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    print(generate(a.out_dir, a.seed))
