"""Seeded, size-parameterised car-sales CSV generator.

Produces a history file shaped like the reference's SalesData.csv and a
sequence of incremental batches that alternate the reference's two batch
kinds:

  new     like IncrementalSales.csv: new branch/dealer/model keys and two
          Date_IDs past the watermark;
  update  like IncrementalSalesUpdate.csv: the previous new batch again, at
          the same (already loaded) Date_IDs, with " up" appended to some
          DealerName values (an SCD1 rename).

Edge cases from FIXTURES.md section 1 are always present in the history: a
UTF-8 BOM, quoted fields with embedded commas, empty DealerName values, a
hyphenless Model_ID and Date_ID -> (Day, Month, Year) violations.  The
functional dependencies Branch_ID -> BranchName, Dealer_ID -> DealerName
and Model_ID -> Product_Name hold inside every file, and no natural key is
ever null.

    python3 carbench/gen.py <out_dir> --seed 1 --rows 20000 --batches 8
"""
import argparse
import csv
import os
import random

HEADER = ["Branch_ID", "Dealer_ID", "Model_ID", "Revenue", "Units_Sold",
          "Date_ID", "Day", "Month", "Year", "BranchName", "DealerName",
          "Product_Name"]

PRODUCTS = ["Mahindra", "Tata", "Maruti", "Hyundai", "Honda", "Toyota",
            "Kia", "Renault", "Nissan", "Skoda", "Volkswagen", "Ford",
            "Jeep", "MG", "Citroen", "Fiat", "BMW", "Audi", "Mercedes",
            "Volvo", "Lexus", "Jaguar", "Porsche", "Mini", "Isuzu", "Force",
            "Datsun", "Chevrolet", "Mitsubishi", "Subaru", "Mazda", "Tesla",
            "Genesis", "Fisker", "Polestar", "Lucid"]
WORDS = ["Apex", "Summit", "Harbor", "Liberty", "Pioneer", "Crown", "Eagle",
         "Metro", "Valley", "Northside", "Sunset", "Granite", "Riverside",
         "Coastal", "Heritage", "Union", "Capital", "Frontier", "Prime",
         "Lakeview", "Keystone", "Atlas", "Beacon", "Cedar"]
OUTLIER_NAMES = ["2008 NRHP-listed", "1995 Roadside", "Route 66 Landmark"]
NEW_BATCH_ROWS = 48


def _name(rng, suffix):
    r = rng.random()
    if r < 0.01:
        return rng.choice(OUTLIER_NAMES)
    if r < 0.06:  # quoted embedded comma, like "Fisker, Karma Motors"
        return f"{rng.choice(WORDS)}, {rng.choice(WORDS)} {suffix}"
    return f"{rng.choice(WORDS)} {rng.choice(WORDS)} {suffix}"


def _ids(rng, prefix, n, width):
    """n distinct ids with random numeric parts, so rank order != creation."""
    nums = rng.sample(range(10 ** width), n)
    return [f"{prefix}{x:0{width}d}" for x in nums]


class _World:
    """Entity state shared by the history and the batches."""

    def __init__(self, seed, rows):
        rng = self.rng = random.Random(seed)
        n_branch = max(4, rows * 1836 // 1849)
        n_dealer = max(3, rows * 267 // 1849)
        n_model = max(4, rows * 277 // 1849)
        self.n_date = min(90000, max(4, rows * 1156 // 1849))
        self.branches = _ids(rng, "BR", n_branch, 7)
        self.branch_name = {b: _name(rng, "Motors") for b in self.branches}
        self.dealers = _ids(rng, "DLR", n_dealer, 6)
        self.dealer_name = {
            d: (None if rng.random() < 0.05 else _name(rng, "Dealers"))
            for d in self.dealers}
        self.models = []
        self.product = {}
        for i, num in enumerate(rng.sample(range(100000), n_model)):
            p = PRODUCTS[i % len(PRODUCTS)]
            # a few hyphenless ids: split(Model_ID, '-')[0] keeps them whole
            m = f"ZYXM{i:02d}" if i < 3 else f"{p[:3]}-M{num}"
            self.models.append(m)
            self.product[m] = p
        self.date_dmy = {}
        for i in range(1, self.n_date + 1):
            self.date_dmy[f"DT{i:05d}"] = self._dmy()
        self.last_date = self.n_date
        self.seen_rows = set()
        self.new_seq = 0

    def _dmy(self):
        rng = self.rng
        return rng.randint(1, 28), rng.randint(1, 12), rng.randint(2017, 2020)

    def row(self, branch, dealer, model, date_id, violate=0.0):
        rng = self.rng
        d, m, y = self.date_dmy[date_id]
        if rng.random() < violate:  # Date_ID -> (Day, Month, Year) violated
            d, m, y = self._dmy()
        while True:
            r = [branch, dealer, model, rng.randint(110318, 29960037),
                 rng.randint(1, 3), date_id, d, m, y, self.branch_name[branch],
                 self.dealer_name[dealer], self.product[model]]
            key = tuple(r)
            if key not in self.seen_rows:
                self.seen_rows.add(key)
                return r

    def history(self, rows):
        rng = self.rng
        dates = list(self.date_dmy)
        out = []
        for i in range(rows):
            # every branch appears at least once: ~1 row per branch
            b = self.branches[i] if i < len(self.branches) else rng.choice(self.branches)
            dl = self.dealers[i] if i < len(self.dealers) else rng.choice(self.dealers)
            m = self.models[i] if i < len(self.models) else rng.choice(self.models)
            dt = dates[i] if i < len(dates) else rng.choice(dates)
            out.append(self.row(b, dl, m, dt, violate=0.35))
        rng.shuffle(out)
        return out

    def new_batch(self):
        """New keys past the watermark (IncrementalSales.csv shape)."""
        rng = self.rng
        self.new_seq += 1
        k = self.new_seq
        new_dates = []
        for _ in range(2):
            self.last_date += 1
            dt = f"DT{self.last_date:05d}"
            self.date_dmy[dt] = self._dmy()
            new_dates.append(dt)
        new_branches = [f"XYZ{k:04d}{j}" for j in range(4)]
        for b in new_branches:
            self.branch_name[b] = _name(rng, "Motors")
        self.branches.extend(new_branches)
        dealer = f"XYZD{k:04d}"
        self.dealer_name[dealer] = _name(rng, "Dealers")
        self.dealers.append(dealer)
        model = "ZYXM13" if k == 1 else f"ZYX-N{k:04d}"
        self.product[model] = rng.choice(PRODUCTS)
        self.models.append(model)
        out = []
        for i in range(NEW_BATCH_ROWS):
            b = new_branches[i] if i < len(new_branches) else rng.choice(self.branches)
            dl = dealer if i < 2 else rng.choice(self.dealers)
            m = model if i < 2 else rng.choice(self.models)
            out.append(self.row(b, dl, m, new_dates[i % 2]))
        return out

    def update_batch(self, prev):
        """The previous new batch with SCD1 " up" DealerName renames
        (IncrementalSalesUpdate.csv shape): same keys, same Date_IDs."""
        named = sorted({r[1] for r in prev if self.dealer_name[r[1]] is not None})
        renamed = self.rng.sample(named, min(3, len(named)))
        for d in renamed:
            self.dealer_name[d] = self.dealer_name[d] + " up"
        out = []
        for r in prev:
            r = list(r)
            r[10] = self.dealer_name[r[1]]
            out.append(r)
        return out


def _write(path, rows, bom=False):
    tmp = path + ".tmp"
    with open(tmp, "w", newline="", encoding="utf-8") as f:
        if bom:
            f.write("\ufeff")
        w = csv.writer(f, lineterminator="\n")
        w.writerow(HEADER)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])
    os.replace(tmp, path)


def generate(out_dir, seed, rows, batches):
    """Writes history.csv and batch_NNN.csv (alternating new/update) into
    out_dir; returns the file paths.  Reuses a complete earlier output."""
    paths = [os.path.join(out_dir, "history.csv")] + [
        os.path.join(out_dir, f"batch_{i:03d}.csv") for i in range(batches)]
    done = os.path.join(out_dir, "DONE")
    if os.path.exists(done):
        return paths
    os.makedirs(out_dir, exist_ok=True)
    world = _World(seed, rows)
    _write(paths[0], world.history(rows), bom=True)
    prev = None
    for i in range(batches):
        prev = world.new_batch() if i % 2 == 0 else world.update_batch(prev)
        _write(paths[i + 1], prev)
    open(done, "w").close()
    return paths


def read_csv(path):
    """The rows of a generated CSV as the engine should see them: BOM
    stripped, empty fields as None, numeric columns as ints."""
    with open(path, newline="", encoding="utf-8-sig") as f:
        rd = csv.reader(f)
        next(rd)
        out = []
        for r in rd:
            v = [None if x == "" else x for x in r]
            for i in (3, 4, 6, 7, 8):
                v[i] = None if v[i] is None else int(v[i])
            out.append(v)
        return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rows", type=int, default=20000)
    ap.add_argument("--batches", type=int, default=8)
    a = ap.parse_args()
    print("\n".join(generate(a.out_dir, a.seed, a.rows, a.batches)))
