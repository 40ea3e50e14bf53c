"""Seeded generator of the medallion pipeline's input layout.

Writes two drops in the layout `graft.pipeline.MedallionJob` reads:

    <out>/full/sales/source=IN/format=csv/date=YYYY-MM-DD/*.csv
    <out>/full/sales/source=US/format=parquet/date=YYYY-MM-DD/*.parquet
    <out>/full/sales/source=FR/format=json/date=YYYY-MM-DD/*.json
    <out>/full/exchange-rate-data.csv
    <out>/incr/...                       (the later days, same shape)
    <out>/manifest.json                  (expected counts, see below)

and reproduces the reference's quirks:

  * IN is a multiline-quoted CSV: delivery addresses hold newlines and
    commas, and empty or `null` fields stand for NULL;
  * US is snappy parquet with typed columns;
  * FR is one JSON array per file whose numerics are strings;
  * every drop plants bad rows (no order id, or an impossible date), so
    the loader's ON_ERROR=CONTINUE path skips them;
  * some orders are re-delivered in a second file of the same day with a
    later, explicitly set mtime and a new amount, so the curate step's
    newest-revision dedup has work to do;
  * customer names are unique per (country, region) and a recurring
    customer always carries the same contact and address, which is the
    precondition of FactBuilder's customer join.

The manifest is derived from the construction itself (the rows this
script decided to write), not by reading the files back; test_generator.py
cross-checks it against the files with DuckDB.
"""
import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# country -> (format, tax field, contact field, forex column, region)
COUNTRIES = {
    "IN": ("csv", "GST", "Mobile", "usd2inr", "APAC"),
    "US": ("parquet", "Tax", "Phone", "usd2usd", "AMER"),
    "FR": ("json", "Tax", "Phone", "usd2eu", "EU"),
}
FIELDS = ["Order ID", "Customer Name", "Mobile Model", "Quantity",
          "Price per Unit", "Total Price", "Promotion Code", "Order Amount",
          "Tax", "Order Date", "Payment Status", "Shipping Status",
          "Payment Method", "Payment Provider", "Contact", "Delivery Address"]
BRANDS = ["Apple", "Samsung", "LG", "OnePlus", "Xiaomi", "Google", "Nokia"]
COLORS = ["Black", "White", "Blue", "Red", "Silver"]
PAY = [("Credit Card", "Visa"), ("Credit Card", "Mastercard"),
       ("Debit Card", "Visa"), ("Wallet", "PayPal"), ("UPI", "GPay"),
       ("COD", "Cash")]
FIRST = ["Asha", "Ravi", "Mira", "John", "Emma", "Lucas", "Chloe", "Hugo",
         "Priya", "Noah", "Ava", "Louis", "Zoe", "Arjun", "Olivia", "Jules"]
LAST = ["Sharma", "Smith", "Martin", "Patel", "Brown", "Bernard", "Dubois",
        "Kumar", "Jones", "Moreau", "Rao", "Miller", "Petit", "Singh"]
BASE_DAY = dt.date(2020, 1, 1)
MTIME_BASE = 1_600_000_000  # first delivery mtime, seconds since epoch
REDELIVERY_SHARE = 0.05     # share of a day's orders delivered twice
NEW_CUSTOMER_SHARE = 0.1    # incremental orders placed by new customers


def money(cents):
    return f"{cents // 100}.{cents % 100:02d}"


class Country:
    """One country's customer pool, promo codes and order-id sequence."""

    def __init__(self, code, rng):
        self.code = code
        self.rng = rng
        self.customers = []
        self.next_order = 1
        self.promos = [f"{code}PROMO{i}" for i in range(4)]

    def new_customer(self):
        i = len(self.customers)
        name = f"{self.rng.choice(FIRST)} {self.rng.choice(LAST)} {self.code}{i:05d}"
        contact = f"+{self.rng.randint(10**9, 10**10 - 1)}"
        street = f"{self.rng.randint(1, 999)} {self.rng.choice(LAST)} Street"
        # the reference's addresses span lines and hold commas
        addr = f"{street},\nBlock {self.rng.choice('ABCDE')}, {self.code} {self.rng.randint(10000, 99999)}"
        self.customers.append((name, contact, addr))
        return self.customers[-1]


def product(rng):
    b = rng.choice(BRANDS)
    return f"{b}/{b[:2].upper()}{rng.randint(1, 12)}/{rng.choice(COLORS)}/" \
           f"{rng.choice([4, 6, 8])} GB/{rng.choice([64, 128, 256])} GB"


def order_rows(c, day, n, rng, new_share):
    """n good orders of country c on one day, as dicts of typed values."""
    rows = []
    for _ in range(n):
        if not c.customers or rng.random() < new_share:
            cust = c.new_customer()
        else:
            cust = rng.choice(c.customers)
        qty = rng.randint(1, 4)
        price = rng.randint(10_000, 200_000)  # cents
        total = qty * price
        promo = rng.choice(c.promos + [None, None])
        amount = total - (total // 10 if promo else 0)
        method, provider = rng.choice(PAY)
        rows.append({
            "Order ID": f"{c.code}-{c.next_order:08d}",
            "Customer Name": cust[0], "Mobile Model": product(rng),
            "Quantity": qty, "Price per Unit": price, "Total Price": total,
            "Promotion Code": promo, "Order Amount": amount,
            "Tax": amount * 18 // 100, "Order Date": day,
            "Payment Status": rng.choices(["Paid", "Pending", "Failed"], [7, 2, 1])[0],
            "Shipping Status": rng.choices(["Delivered", "In Transit", "Returned"], [7, 2, 1])[0],
            "Payment Method": method, "Payment Provider": provider,
            "Contact": cust[1], "Delivery Address": cust[2]})
        c.next_order += 1
    return rows


def bad_rows(c, day, rng):
    """Two rows the loader must skip: a missing order id and a date that
    does not exist."""
    out = []
    for kind in ("no_id", "bad_date"):
        r = order_rows(c, day, 1, rng, 0.0)[0]
        if kind == "no_id":
            r["Order ID"] = None
        else:
            r["Order Date"] = "2020-02-30"
        out.append(r)
    return out


def text_value(field, v):
    if v is None:
        return None
    if field in ("Price per Unit", "Total Price", "Order Amount", "Tax"):
        return money(v)
    return str(v)


def write_csv(path, rows, tax, contact, rng):
    header = [tax if f == "Tax" else contact if f == "Contact" else f for f in FIELDS]

    def cell(v):
        if v is None:  # the reference writes both spellings of NULL
            return rng.choice(["", "null"])
        if any(ch in v for ch in ',"\n'):
            return '"' + v.replace('"', '""') + '"'
        return v
    with open(path, "w", newline="") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(cell(text_value(k, r[k])) for k in FIELDS) + "\n")


def write_parquet(path, rows, tax, contact):
    def dec(k):
        return pa.array([None if r[k] is None else r[k] / 100 for r in rows], pa.float64())

    def date_col():
        out = []
        for r in rows:
            d = r["Order Date"]
            out.append(d if isinstance(d, dt.date) else None)
        return pa.array(out, pa.date32())
    cols = {
        "Order ID": pa.array([r["Order ID"] for r in rows], pa.string()),
        "Customer Name": pa.array([r["Customer Name"] for r in rows], pa.string()),
        "Mobile Model": pa.array([r["Mobile Model"] for r in rows], pa.string()),
        "Quantity": pa.array([r["Quantity"] for r in rows], pa.int64()),
        "Price per Unit": dec("Price per Unit"), "Total Price": dec("Total Price"),
        "Promotion Code": pa.array([r["Promotion Code"] for r in rows], pa.string()),
        "Order Amount": dec("Order Amount"), tax: dec("Tax"),
        "Order Date": date_col(),
    }
    for k in ("Payment Status", "Shipping Status", "Payment Method",
              "Payment Provider"):
        cols[k] = pa.array([r[k] for r in rows], pa.string())
    cols[contact] = pa.array([r["Contact"] for r in rows], pa.string())
    cols["Delivery Address"] = pa.array([r["Delivery Address"] for r in rows], pa.string())
    pq.write_table(pa.table(cols), path, compression="snappy")


def write_json(path, rows, tax, contact):
    objs = []
    for r in rows:
        o = {}
        for k in FIELDS:
            name = tax if k == "Tax" else contact if k == "Contact" else k
            o[name] = text_value(k, r[k])
        objs.append(o)
    with open(path, "w") as f:
        f.write("[\n" + ",\n".join(json.dumps(o, indent=2) for o in objs) + "\n]\n")


def write_forex(path, days, rng):
    with open(path, "w") as f:
        f.write("date,usd2usd,usd2eu,usd2can,usd2uk,usd2inr,usd2jp\n")
        for d in days:
            rates = [1.0, rng.uniform(0.85, 0.95), rng.uniform(1.25, 1.40),
                     rng.uniform(0.75, 0.82), rng.uniform(70.0, 85.0),
                     rng.uniform(105.0, 150.0)]
            f.write(d.isoformat() + "," + ",".join(f"{x:.7f}" for x in rates) + "\n")


def write_drop(root, days, countries, rows_per_day, rng, new_share, all_days):
    """Write one drop; return the rows written per country as
    (good rows with their delivery rank, bad row count)."""
    written = {}
    for code, (fmt, tax, contact, _, _) in COUNTRIES.items():
        c = countries[code]
        good, bad = [], 0
        for day in days:
            d = os.path.join(root, "sales", f"source={code}", f"format={fmt}",
                             f"date={day.isoformat()}")
            os.makedirs(d, exist_ok=True)
            first = order_rows(c, day, rows_per_day, rng, new_share)
            planted = bad_rows(c, day, rng)
            bad += len(planted)
            main = first + planted
            rng.shuffle(main)
            again = []
            for r in rng.sample(first, int(len(first) * REDELIVERY_SHARE)):
                r2 = dict(r)
                r2["Quantity"] = r["Quantity"] + 1
                r2["Total Price"] = r2["Quantity"] * r["Price per Unit"]
                r2["Order Amount"] = r2["Total Price"]
                r2["Tax"] = r2["Order Amount"] * 18 // 100
                again.append(r2)
            stamp = day.strftime("%Y%m%d")
            mtime = MTIME_BASE + (day - BASE_DAY).days * 86400
            for suffix, rs, t in (("", main, mtime), ("-redelivered", again, mtime + 3600)):
                if not rs:
                    continue
                path = os.path.join(d, f"order-{stamp}{suffix}.{fmt}")
                if fmt == "csv":
                    write_csv(path, rs, tax, contact, rng)
                elif fmt == "parquet":
                    write_parquet(path, rs, tax, contact)
                else:
                    write_json(path, rs, tax, contact)
                os.utime(path, (t, t))
            good += [(r, 0) for r in first] + [(r, 1) for r in again]
        written[code] = (good, bad)
    write_forex(os.path.join(root, "exchange-rate-data.csv"), all_days, rng)
    return written


def curated(goods):
    """Newest revision of every Paid+Delivered order, keyed by
    (order id, date) — what CurateJob keeps."""
    best = {}
    for r, rank in goods:
        if r["Payment Status"] != "Paid" or r["Shipping Status"] != "Delivered":
            continue
        k = (r["Order ID"], r["Order Date"])
        if k not in best or rank > best[k][1]:
            best[k] = (r, rank)
    return [r for r, _ in best.values()]


def dim_keys(cur):
    """Natural keys of the five value dims over (country, curated rows)."""
    out = {"region_dim": set(), "product_dim": set(), "promo_code_dim": set(),
           "customer_dim": set(), "payment_dim": set()}
    for code, rows in cur.items():
        region = COUNTRIES[code][4]
        for r in rows:
            out["region_dim"].add((code, region))
            out["product_dim"].add(r["Mobile Model"])
            out["promo_code_dim"].add((r["Promotion Code"] or "NA", code, region))
            out["customer_dim"].add((r["Customer Name"], r["Contact"],
                                     r["Delivery Address"], code, region))
            out["payment_dim"].add((r["Payment Method"], r["Payment Provider"], code, region))
    return out


def generate(out, seed, days_full, days_incr, rows):
    rng = random.Random(seed)
    countries = {code: Country(code, rng) for code in COUNTRIES}
    full_days = [BASE_DAY + dt.timedelta(days=i) for i in range(days_full)]
    incr_days = [BASE_DAY + dt.timedelta(days=days_full + i) for i in range(days_incr)]
    all_days = full_days + incr_days
    full = write_drop(os.path.join(out, "full"), full_days, countries, rows,
                      rng, 1.0 / 3, all_days)
    incr = write_drop(os.path.join(out, "incr"), incr_days, countries, rows,
                      rng, NEW_CUSTOMER_SHARE, all_days)

    cur_full = {c: curated(full[c][0]) for c in COUNTRIES}
    cur_all = {c: curated(full[c][0] + incr[c][0]) for c in COUNTRIES}
    dims_full, dims_all = dim_keys(cur_full), dim_keys(cur_all)

    def span(cur):
        ds = [r["Order Date"] for rows_ in cur.values() for r in rows_]
        return (max(ds) - min(ds)).days + 1

    def amount(rows_):
        return sum(r["Order Amount"] for r in rows_)
    manifest = {
        "seed": seed, "days_full": days_full, "days_incr": days_incr,
        "rows_per_day": rows,
        "full": {
            "source": {c: {"loaded": len(full[c][0]), "skipped": full[c][1]} for c in COUNTRIES},
            "curated": {c: len(cur_full[c]) for c in COUNTRIES},
            "curated_amount_cents": {c: amount(cur_full[c]) for c in COUNTRIES},
            "dims": {k: len(v) for k, v in dims_full.items()},
            "date_dim": span(cur_full),
            "fact": sum(len(v) for v in cur_full.values()),
        },
        "incr": {
            "source": {c: {"loaded": len(incr[c][0]), "skipped": incr[c][1]} for c in COUNTRIES},
            # the incremental load re-curates the whole source table and
            # appends: the table then holds the full load's rows again
            "curated": {c: len(cur_full[c]) + len(cur_all[c]) for c in COUNTRIES},
            "curated_amount_cents": {c: amount(cur_full[c]) + amount(cur_all[c]) for c in COUNTRIES},
            "dims": {k: len(dims_all[k]) - len(dims_full[k]) for k in dims_all},
            "date_dim": span(cur_all) - span(cur_full),
            "fact": sum(len(cur_full[c]) + len(cur_all[c]) for c in COUNTRIES),
        },
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
