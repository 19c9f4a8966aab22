"""Self-test of the checkers: the model's own tables must pass, and each
injected fault must be flagged.

    python3 carbench/selftest.py

Gold-state faults: a duplicate surrogate key in dim_branch, a stale
DealerName after an SCD1 rename, and a dropped fact row.  Bronze and silver
faults: a changed bronze value and a dropped silver row.  Exits non-zero if
any is missed.
"""
import os
import shutil
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import model  # noqa: E402


def faulty_copy(dirs, out, table, sql):
    """Copies `table` from `dirs` into `out` with `sql` applied to it."""
    d = os.path.join(out, table)
    os.makedirs(d)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM '{dirs[table][0]}/*.parquet'")
    con.execute(sql)
    con.execute(f"COPY t TO '{d}/part-0.parquet' (FORMAT PARQUET)")
    return {**dirs, table: [d]}


def export_layers(m, out, fault=None):
    """Writes the model's bronze and silver as Hive-partitioned parquet, as
    the engine lays them out, with `fault` = (layer, sql on table t)."""
    os.makedirs(out)
    for layer, parts in (("bronze", "Year"), ("silver", "Year, Month")):
        m.con.execute(f"CREATE OR REPLACE TEMP TABLE t AS SELECT * FROM {layer}")
        if fault and fault[0] == layer:
            m.con.execute(fault[1])
        m.con.execute(f"COPY t TO '{out}/{layer}' (FORMAT PARQUET, PARTITION_BY ({parts}))")
    return out


def layer_faults(tmp, files):
    m = model.Model()
    m.apply(gen.read_csv(files[0]), gold=False)
    ok = True
    clean = model.check_layers(m, export_layers(m, os.path.join(tmp, "layers-good")))
    print(f"clean bronze and silver: {clean or 'passes'}")
    ok &= not clean
    faults = {
        "changed bronze value": ("bronze", "UPDATE t SET Revenue = Revenue + 1 "
                                           "WHERE rowid = (SELECT min(rowid) FROM t)"),
        "dropped silver row": ("silver", "DELETE FROM t WHERE rowid = (SELECT min(rowid) FROM t)"),
    }
    for i, (name, fault) in enumerate(faults.items()):
        reasons = model.check_layers(m, export_layers(m, os.path.join(tmp, f"layers-f{i}"), fault))
        flagged = any(r.startswith(fault[0]) for r in reasons)
        print(f"{name}: {'flagged' if flagged else 'MISSED'} {reasons}")
        ok &= flagged
    return ok


def main():
    os.makedirs(build.build_root(), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=build.build_root())
    files = gen.generate(os.path.join(tmp, "in"), seed=7, rows=500, batches=2)
    m = model.Model()
    for f in files:
        m.apply(gen.read_csv(f))
    good = m.export(os.path.join(tmp, "good"))
    renamed = m.con.execute(
        "SELECT Dealer_ID FROM dim_dealer WHERE DealerName LIKE '% up' LIMIT 1").fetchone()
    assert renamed, "the update batch renamed no dealer"
    faults = {
        "duplicate key": ("dim_branch",
                          "UPDATE t SET dim_branch_key = 1 WHERE dim_branch_key = 2"),
        "stale attribute": ("dim_dealer",
                            "UPDATE t SET DealerName = replace(DealerName, ' up', '') "
                            f"WHERE Dealer_ID = '{renamed[0]}'"),
        "dropped fact row": ("factsales",
                             "DELETE FROM t WHERE rowid = (SELECT min(rowid) FROM t)"),
    }
    ok = True
    clean = model.check(m, good)
    print(f"clean state: {clean or 'passes'}")
    ok &= not clean
    for i, (name, (table, sql)) in enumerate(faults.items()):
        reasons = model.check(m, faulty_copy(good, os.path.join(tmp, f"f{i}"), table, sql))
        flagged = any(r.startswith(table) for r in reasons)
        print(f"{name}: {'flagged' if flagged else 'MISSED'} {reasons}")
        ok &= flagged
    ok &= layer_faults(tmp, files)
    shutil.rmtree(tmp)
    print("self-test " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
