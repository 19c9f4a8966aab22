#!/usr/bin/env python3
"""Seeded generator for the committed car-sales test fixture.

The pipeline tests replay the reference's SCD Type 1 scenario (FIXTURES.md
sections 5 and 6): a full load of SalesData.csv, the IncrementalSales.csv
batch, the IncrementalSalesUpdate.csv batch and a replay.  The reference's
own CSVs are not part of this repository, so this script writes a stand-in
for all three under src/test/resources/carsales/, built to the shape that
FIXTURES.md section 1 documents: the same row count, distinct-key counts,
functional dependencies, Date_ID violations, edge cases and incremental
batches.  Only the Python standard library is used; the output is a pure
function of SEED.

    python3 tools/carsales_fixture.py             # rewrite the committed files
    python3 tools/carsales_fixture.py --out DIR   # write them to DIR instead
    python3 tools/carsales_fixture.py --selftest  # regenerate and compare byte
        # for byte, recompute every documented statistic and the expected
        # gold counts after each batch with DuckDB, print PASS
"""
import argparse
import csv
import filecmp
import os
import random
import sys
import tempfile

SEED = 1849
HEADER = ["Branch_ID", "Dealer_ID", "Model_ID", "Revenue", "Units_Sold",
          "Date_ID", "Day", "Month", "Year", "BranchName", "DealerName",
          "Product_Name"]
FILES = ("SalesData.csv", "IncrementalSales.csv", "IncrementalSalesUpdate.csv")
DEFAULT_OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "src", "test", "resources", "carsales")

# FIXTURES.md section 1 and 5: the full load's shape
ROWS, BRANCHES, DEALERS, MODELS, DATES = 1849, 1836, 267, 277, 1156
MAX_DATE = 1245                    # largest Date_ID is DT01245
VIOLATING_DATES = ROWS - DATES     # 693: every repeated Date_ID changes its (Day, Month, Year)
REVENUE_MIN, REVENUE_MAX = 110318, 29960037
GOLDEN = {"Revenue": 13363978, "Units_Sold": 2, "Model_ID": "Mah-M167"}
FISKER = "Fisker, Karma Motors"
# FIXTURES.md section 6: the incremental batches
NEW_BRANCHES = ["BR9546", "BR9666", "BR9726", "XYZ9726"]
NEW_DEALER, NEW_MODEL = "XYZ0063", "ZYXM13"
NEW_DATES = ["DT01246", "DT01246", "DT01247", "DT01247"]

PRODUCTS = ["Mahindra", "Tata", "Maruti", "Hyundai", "Honda", "Toyota",
            "Kia", "Renault", "Nissan", "Skoda", "Volkswagen", "Ford",
            "Jeep", "MG Motor", "Citroen", "Fiat", "BMW", "Audi",
            "Mercedes", "Volvo", "Lexus", "Jaguar", "Porsche", "Mini",
            "Isuzu", "Force", "Datsun", "Chevrolet", "Mitsubishi", "Subaru",
            "Mazda", "Tesla", "Genesis", "Polestar", "Lucid", "Rivian"]
WORDS = ["Apex", "Summit", "Harbor", "Liberty", "Pioneer", "Crown", "Eagle",
         "Metro", "Valley", "Northside", "Sunset", "Granite", "Riverside",
         "Coastal", "Heritage", "Union", "Capital", "Frontier", "Prime",
         "Lakeview", "Keystone", "Atlas", "Beacon", "Cedar"]
OUTLIER_BRANCH_NAMES = ["2008 NRHP-listed", "1995 Roadside", "Route 66 Landmark"]


def _name(rng, suffix):
    """A business name; one in twenty carries an embedded comma, so the
    CSV writer quotes it (the "Fisker, Karma Motors" edge case)."""
    a, b = rng.choice(WORDS), rng.choice(WORDS)
    return f"{a}, {b} {suffix}" if rng.random() < 0.05 else f"{a} {b} {suffix}"


def _dmy(rng):
    return rng.randint(1, 28), rng.randint(1, 12), rng.randint(2017, 2020)


def generate():
    """The three files as lists of rows (None = empty field)."""
    rng = random.Random(SEED)

    # entities: natural keys with their dependent attributes
    excluded = {int(b[2:]) for b in NEW_BRANCHES if b.startswith("BR")}
    branches = [f"BR{n:04d}" for n in
                rng.sample(sorted(set(range(1, 10000)) - excluded), BRANCHES)]
    branch_name = {b: _name(rng, "Motors") for b in branches}
    for b, outlier in zip(rng.sample(branches, len(OUTLIER_BRANCH_NAMES)),
                          OUTLIER_BRANCH_NAMES):
        branch_name[b] = outlier

    dealers = [f"DLR{n:04d}" for n in rng.sample(range(1, 10000), DEALERS)]
    names = set()
    dealer_name = {}
    for d in dealers:
        if rng.random() < 0.05:
            dealer_name[d] = None  # empty DealerName -> null
            continue
        n = _name(rng, rng.choice(["Motors", "Autos", "Cars"]))
        while n in names or n == FISKER:
            n = _name(rng, rng.choice(["Motors", "Autos", "Cars"]))
        names.add(n)
        dealer_name[d] = n
    fisker = rng.choice([d for d in dealers if dealer_name[d] is not None])
    dealer_name[fisker] = FISKER

    product = {GOLDEN["Model_ID"]: "Mahindra"}
    while len(product) < MODELS:
        # the first 36 models cover every product once
        p = PRODUCTS[len(product) - 1] if len(product) <= len(PRODUCTS) else rng.choice(PRODUCTS)
        m = f"{p[:3]}-M{rng.randint(1, 999)}"
        product.setdefault(m, p)
    models = list(product)

    date_nums = rng.sample(range(1, MAX_DATE), DATES - 1) + [MAX_DATE]
    dates = [f"DT{n:05d}" for n in date_nums]
    date_dmy = {dt: _dmy(rng) for dt in dates}

    # one slot per row for each key column: every entity at least once
    branch_slots = branches + rng.sample(branches, ROWS - BRANCHES)
    dealer_slots = dealers + [rng.choice(dealers) for _ in range(ROWS - DEALERS)]
    others = [m for m in models if m != GOLDEN["Model_ID"]]
    model_slots = others + [rng.choice(others) for _ in range(ROWS - MODELS)]
    date_slots = dates + rng.sample(dates, VIOLATING_DATES)
    for s in (branch_slots, dealer_slots, model_slots, date_slots):
        rng.shuffle(s)
    golden_at = rng.randrange(ROWS)
    model_slots.insert(golden_at, GOLDEN["Model_ID"])  # its only row

    # only the 13 repeated branches could repeat a 4-key grain; at this
    # seed none does
    assert len(set(zip(branch_slots, dealer_slots, model_slots, date_slots))) == ROWS

    ends = rng.sample([i for i in range(ROWS) if i != golden_at], 2)
    sales, seen_date = [], set()
    for i in range(ROWS):
        b, d, m, dt = branch_slots[i], dealer_slots[i], model_slots[i], date_slots[i]
        dmy = date_dmy[dt]
        if dt in seen_date:  # the repeat of a Date_ID violates Date_ID -> (Day, Month, Year)
            while dmy == date_dmy[dt]:
                dmy = _dmy(rng)
        seen_date.add(dt)
        revenue = rng.randint(REVENUE_MIN + 1, REVENUE_MAX - 1)
        while revenue == GOLDEN["Revenue"]:
            revenue = rng.randint(REVENUE_MIN + 1, REVENUE_MAX - 1)
        units = rng.randint(1, 3)
        if i == golden_at:
            revenue, units = GOLDEN["Revenue"], GOLDEN["Units_Sold"]
        elif i == ends[0]:
            revenue = REVENUE_MIN
        elif i == ends[1]:
            revenue = REVENUE_MAX
        sales.append([b, d, m, revenue, units, dt, *dmy, branch_name[b],
                      dealer_name[d], product[m]])

    # batch 1: three existing dealers under their SalesData names (one of
    # them the quoted-comma dealer), plus the one new dealer/model row
    named = sorted(d for d in dealers if dealer_name[d] is not None and d != fisker)
    old_dealers = [rng.choice(named), fisker]
    old_dealers.append(rng.choice([d for d in named if d != old_dealers[0]]))
    new_dmy = {dt: _dmy(rng) for dt in sorted(set(NEW_DATES))}
    new_names = {b: _name(rng, "Motors") for b in NEW_BRANCHES}
    xyz_name = "Xyz Motors"
    incremental = []
    for b, d, dt in zip(NEW_BRANCHES, old_dealers + [NEW_DEALER], NEW_DATES):
        m = NEW_MODEL if d == NEW_DEALER else rng.choice(others)
        incremental.append([
            b, d, m, rng.randint(REVENUE_MIN + 1, REVENUE_MAX - 1),
            rng.randint(1, 3), dt, *new_dmy[dt], new_names[b],
            xyz_name if d == NEW_DEALER else dealer_name[d],
            "Tesla" if m == NEW_MODEL else product[m]])
    # batch 2: the same rows, an SCD1 " up" rename of every existing dealer
    update = [r[:10] + [r[10] if r[1] == NEW_DEALER else r[10] + " up"] + r[11:]
              for r in incremental]
    return {"SalesData.csv": sales, "IncrementalSales.csv": incremental,
            "IncrementalSalesUpdate.csv": update}


def write(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in generate().items():
        with open(os.path.join(out_dir, name), "w", newline="", encoding="utf-8") as f:
            if name == "SalesData.csv":
                f.write("\ufeff")  # the full load's header carries a UTF-8 BOM
            w = csv.writer(f, lineterminator="\n")
            w.writerow(HEADER)
            w.writerows(["" if v is None else v for v in r] for r in rows)


# ---------------------------------------------------------------- selftest

def _read(con, path):
    return con.sql(f"""SELECT * FROM read_csv('{path}', header = true,
        quote = '"', escape = '"', columns = {{
          'Branch_ID': 'VARCHAR', 'Dealer_ID': 'VARCHAR', 'Model_ID': 'VARCHAR',
          'Revenue': 'BIGINT', 'Units_Sold': 'BIGINT', 'Date_ID': 'VARCHAR',
          'Day': 'INTEGER', 'Month': 'INTEGER', 'Year': 'INTEGER',
          'BranchName': 'VARCHAR', 'DealerName': 'VARCHAR',
          'Product_Name': 'VARCHAR'}})""")


def _check(failures, what, got, want):
    if got != want:
        failures.append(f"{what}: got {got!r}, want {want!r}")


def selftest(committed=DEFAULT_OUT):
    failures = []
    with tempfile.TemporaryDirectory(prefix="carsales_fixture_") as tmp:
        write(tmp)
        for name in FILES:
            if not filecmp.cmp(os.path.join(tmp, name),
                               os.path.join(committed, name), shallow=False):
                failures.append(f"{name}: the committed file differs from a fresh generation")
    try:
        import duckdb
    except ImportError as e:
        print(f"carsales_fixture selftest: FAIL (duckdb: {e})")
        return 1
    con = duckdb.connect()
    paths = {n: os.path.join(committed, n) for n in FILES}
    for n, view in zip(FILES, ("s", "i", "u")):
        _read(con, paths[n]).create_view(view)

    def row(sql):
        r = con.sql(sql).fetchone()
        return None if r is None else tuple(r)

    def one(sql):
        r = row(sql)
        return None if r is None else r[0]

    with open(paths["SalesData.csv"], "rb") as f:
        first = f.readline()
    _check(failures, "SalesData.csv BOM + header", first,
           b"\xef\xbb\xbf" + ",".join(HEADER).encode() + b"\n")
    for n in FILES[1:]:
        with open(paths[n], "rb") as f:
            _check(failures, f"{n} header", f.readline(), ",".join(HEADER).encode() + b"\n")

    # SalesData.csv: file format, keys and dependencies, value edge cases
    _check(failures, "rows", one("SELECT count(*) FROM s"), ROWS)
    _check(failures, "distinct full rows", one("SELECT count(*) FROM (SELECT DISTINCT * FROM s)"), ROWS)
    _check(failures, "distinct 4-key grains", one(
        "SELECT count(DISTINCT (Branch_ID, Dealer_ID, Model_ID, Date_ID)) FROM s"), ROWS)
    for c, want in (("Branch_ID", BRANCHES), ("Dealer_ID", DEALERS),
                    ("Model_ID", MODELS), ("Date_ID", DATES), ("Product_Name", 36)):
        _check(failures, f"distinct {c}", one(f"SELECT count(DISTINCT {c}) FROM s"), want)
    _check(failures, "max Date_ID", one("SELECT max(Date_ID) FROM s"), f"DT{MAX_DATE:05d}")
    for k, v in (("Branch_ID", "BranchName"), ("Dealer_ID", "DealerName"),
                 ("Model_ID", "Product_Name")):
        _check(failures, f"{k} -> {v} violations", one(
            f"""SELECT count(*) FROM (SELECT {k} FROM s GROUP BY 1
                HAVING count(DISTINCT coalesce({v}, '<null>')) > 1)"""), 0)
    _check(failures, "Date_ID -> (Day, Month, Year) violations", one(
        """SELECT count(*) FROM (SELECT Date_ID FROM s GROUP BY 1
           HAVING count(DISTINCT (Day, Month, Year)) > 1)"""), VIOLATING_DATES)
    _check(failures, "some DealerName empty", one(
        "SELECT count(*) > 0 FROM s WHERE DealerName IS NULL"), True)
    _check(failures, "quoted names with an embedded comma (dealer, branch)", row(
        """SELECT count(*) FILTER (WHERE DealerName LIKE '%,%') > 0,
                  count(*) FILTER (WHERE BranchName LIKE '%,%') > 0 FROM s"""), (True, True))
    _check(failures, "Units_Sold values", one(
        "SELECT list(DISTINCT Units_Sold ORDER BY Units_Sold) FROM s"), [1, 2, 3])
    _check(failures, "Year range", row("SELECT min(Year), max(Year) FROM s"), (2017, 2020))
    _check(failures, "Revenue range", row("SELECT min(Revenue), max(Revenue) FROM s"),
           (REVENUE_MIN, REVENUE_MAX))
    _check(failures, "golden RevPerUnit row", one(
        f"""SELECT list(Revenue / Units_Sold) FROM s
            WHERE Revenue = {GOLDEN['Revenue']} AND Units_Sold = {GOLDEN['Units_Sold']}"""),
           [6681989.0])
    _check(failures, "Mah-M167 rows", one(
        f"SELECT list(split_part(Model_ID, '-', 1)) FROM s WHERE Model_ID = '{GOLDEN['Model_ID']}'"),
           ["Mah"])

    # IncrementalSales.csv
    _check(failures, "batch 1 Date_IDs", one(
        "SELECT list(Date_ID ORDER BY Date_ID) FROM i"), NEW_DATES)
    _check(failures, "batch 1 branches", one(
        "SELECT list(Branch_ID ORDER BY Branch_ID) FROM i"), sorted(NEW_BRANCHES))
    _check(failures, "batch 1 branches already in SalesData", one(
        "SELECT count(*) FROM i WHERE Branch_ID IN (SELECT Branch_ID FROM s)"), 0)
    _check(failures, "batch 1 rows of existing dealers under their SalesData name", one(
        """SELECT count(DISTINCT i.Dealer_ID) FROM i
           JOIN (SELECT DISTINCT Dealer_ID, DealerName FROM s) d
             ON i.Dealer_ID = d.Dealer_ID AND i.DealerName = d.DealerName"""), 3)
    _check(failures, f"batch 1 rows named {FISKER!r}", one(
        f"SELECT count(*) FROM i WHERE DealerName = '{FISKER}'"), 1)
    _check(failures, "batch 1 new dealers", one(
        "SELECT list(Dealer_ID) FROM i WHERE Dealer_ID NOT IN (SELECT Dealer_ID FROM s)"),
           [NEW_DEALER])
    _check(failures, "batch 1 new models", one(
        "SELECT list(Model_ID) FROM i WHERE Model_ID NOT IN (SELECT Model_ID FROM s)"),
           [NEW_MODEL])
    _check(failures, "the new row (branch, dealer, model, hyphen position)", row(
        f"""SELECT Branch_ID, Dealer_ID, Model_ID, strpos(Model_ID, '-')
            FROM i WHERE Dealer_ID = '{NEW_DEALER}'"""), ("XYZ9726", NEW_DEALER, NEW_MODEL, 0))

    # IncrementalSalesUpdate.csv: the same rows, " up" on the existing dealers
    _check(failures, "batch 2 = batch 1 with ' up' renames", one(
        f"""SELECT count(*) FROM (
              SELECT * REPLACE (CASE WHEN Dealer_ID = '{NEW_DEALER}' THEN DealerName
                                     ELSE DealerName || ' up' END AS DealerName) FROM i
              EXCEPT SELECT * FROM u)"""), 0)
    _check(failures, "batch 2 rows", one("SELECT count(*) FROM u"), 4)
    with open(paths["IncrementalSales.csv"], "rb") as a, \
            open(paths["IncrementalSalesUpdate.csv"], "rb") as b:
        xyz = [[l for l in f.read().splitlines() if NEW_DEALER.encode() in l] for f in (a, b)]
    _check(failures, "the new row is byte-identical in both batches", xyz[0] == xyz[1] and len(xyz[0]) == 1, True)

    # expected gold after each batch (FIXTURES sections 5 and 6), by SCD1
    # semantics: a dimension holds every natural key loaded so far, each
    # with the attributes of the latest batch that carried it; the fact
    # holds one row per 4-key grain
    replay = [("full load", "s", [1836, 267, 277, 1156, 1849]),
              ("batch 1", "s UNION ALL SELECT * FROM i", [1840, 268, 278, 1158, 1853]),
              ("batch 2", "s UNION ALL SELECT * FROM i UNION ALL SELECT * FROM u",
               [1840, 268, 278, 1158, 1853]),
              ("replay", "s UNION ALL SELECT * FROM i UNION ALL SELECT * FROM u "
                         "UNION ALL SELECT * FROM u", [1840, 268, 278, 1158, 1853])]
    for step, src, want in replay:
        got = list(con.sql(f"""WITH h AS (SELECT * FROM {src})
            SELECT count(DISTINCT Branch_ID), count(DISTINCT Dealer_ID),
                   count(DISTINCT Model_ID), count(DISTINCT Date_ID),
                   count(DISTINCT (Branch_ID, Dealer_ID, Model_ID, Date_ID))
            FROM h""").fetchone())
        _check(failures, f"gold counts after {step} (branch, dealer, model, date, fact)", got, want)
    _check(failures, "dim_dealer names after batch 2 (' up', Fisker)", row(
        """WITH h AS (SELECT 0 AS b, * FROM s UNION ALL SELECT 1, * FROM i
                      UNION ALL SELECT 2, * FROM u),
           dim AS (SELECT Dealer_ID, DealerName FROM h
                   QUALIFY row_number() OVER (PARTITION BY Dealer_ID ORDER BY b DESC) = 1)
           SELECT count(*) FILTER (WHERE DealerName LIKE '% up'),
                  count(*) FILTER (WHERE DealerName = 'Fisker, Karma Motors up')
           FROM dim"""), (3, 1))
    _check(failures, "model_category of the hyphenless model", one(
        f"SELECT split_part(Model_ID, '-', 1) FROM i WHERE Model_ID = '{NEW_MODEL}'"), NEW_MODEL)

    if failures:
        print("carsales_fixture selftest: FAIL")
        for f in failures:
            print("  " + f)
        return 1
    print("carsales_fixture selftest: PASS")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=DEFAULT_OUT,
                    help="directory written (or, with --selftest, checked)")
    ap.add_argument("--selftest", action="store_true",
                    help="check the files in --out instead of writing them")
    args = ap.parse_args()
    if args.selftest:
        sys.exit(selftest(args.out))
    write(args.out)


if __name__ == "__main__":
    main()
