#!/usr/bin/env python3
"""Cross-checks gen_medallion.py's manifest against the files it wrote,
reading them back with DuckDB (an engine independent of the program).

Usage: python3 perfbench/test_generator.py [--seed N]
Generates a layout of the benchmark's sizes (run.MEDALLION) in a temporary
directory under perfbench/.run, re-derives every manifest count with DuckDB SQL over the raw files and
exits non-zero on the first disagreement.
"""
import argparse
import glob
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_medallion  # noqa: E402
from run import MEDALLION  # noqa: E402

# the raw columns every country shares, by the name each format uses
SHARED = ["Order ID", "Customer Name", "Mobile Model", "Promotion Code",
          "Order Amount", "Order Date", "Payment Status", "Shipping Status",
          "Payment Method", "Payment Provider", "Delivery Address"]


def raw_view(con, drops, code):
    """One country's rows from the given drops as a view of VARCHARs with
    NULL spellings folded, plus the file's mtime (the delivery order)."""
    fmt, _, contact, _, _ = gen_medallion.COUNTRIES[code]
    files = sorted(f for d in drops for f in glob.glob(
        f"{d}/sales/source={code}/format={fmt}/date=*/*.{fmt}"))
    con.execute(f"CREATE OR REPLACE TABLE mtimes_{code} (filename VARCHAR, mtime BIGINT)")
    con.executemany(f"INSERT INTO mtimes_{code} VALUES (?, ?)",
                    [(f, int(os.stat(f).st_mtime)) for f in files])
    lst = "[" + ",".join(f"'{f}'" for f in files) + "]"
    if fmt == "csv":
        src = f"read_csv({lst}, header=true, quote='\"', escape='\"', all_varchar=true, filename=true)"
    elif fmt == "parquet":
        src = f"read_parquet({lst}, filename=true)"
    else:
        cols = {(contact if f == "Contact" else f): "VARCHAR" for f in gen_medallion.FIELDS}
        src = f"read_json({lst}, format='array', columns={cols}, filename=true)"

    def c(name):
        v = f'CAST("{name}" AS VARCHAR)'
        return f"CASE WHEN {v} IN ('', 'null') THEN NULL ELSE {v} END AS \"{name}\""
    con.execute(f"""CREATE OR REPLACE VIEW raw_{code} AS
        SELECT {', '.join(c(n) for n in SHARED)}, "{contact}" AS contact, m.mtime
        FROM {src} r JOIN mtimes_{code} m USING (filename)""")
    return f"""(SELECT *, "Order ID" IS NULL OR TRY_CAST("Order Date" AS DATE) IS NULL AS bad
                FROM raw_{code})"""


def curated_sql(rows):
    return f"""(SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY "Order ID", "Order Date"
                                     ORDER BY mtime DESC) AS rk
        FROM {rows} WHERE NOT bad AND "Payment Status" = 'Paid'
                         AND "Shipping Status" = 'Delivered') WHERE rk = 1)"""


def derive(con, drops):
    """Counts of one load state (the given drops) from the files."""
    out = {"source": {}, "curated": {}, "curated_amount_cents": {}}
    cur_all = []
    for code, (_, _, _, _, region) in gen_medallion.COUNTRIES.items():
        rows = raw_view(con, drops, code)
        loaded, skipped = con.execute(
            f"SELECT count(*) FILTER (NOT bad), count(*) FILTER (bad) FROM {rows}").fetchone()
        out["source"][code] = {"loaded": loaded, "skipped": skipped}
        cur = curated_sql(rows)
        n, cents = con.execute(
            f"SELECT count(*), sum(CAST(round(CAST(\"Order Amount\" AS DECIMAL(12,2)) * 100) AS BIGINT)) FROM {cur}").fetchone()
        out["curated"][code] = n
        out["curated_amount_cents"][code] = int(cents)
        cur_all.append(f"""SELECT '{code}' AS country, '{region}' AS region, "Customer Name" AS name,
            contact, "Delivery Address" AS addr, "Mobile Model" AS mobile,
            coalesce("Promotion Code", 'NA') AS promo, "Payment Method" AS pm,
            "Payment Provider" AS pp, CAST("Order Date" AS DATE) AS d FROM {cur}""")
    con.execute("CREATE OR REPLACE TABLE cur AS " + " UNION ALL ".join(cur_all))
    q = lambda s: con.execute(s).fetchone()[0]  # noqa: E731
    out["dims"] = {
        "region_dim": q("SELECT count(DISTINCT (country, region)) FROM cur"),
        "product_dim": q("SELECT count(DISTINCT mobile) FROM cur"),
        "promo_code_dim": q("SELECT count(DISTINCT (promo, country, region)) FROM cur"),
        "customer_dim": q("SELECT count(DISTINCT (name, contact, addr, country, region)) FROM cur"),
        "payment_dim": q("SELECT count(DISTINCT (pm, pp, country, region)) FROM cur"),
    }
    out["date_dim"] = q("SELECT datediff('day', min(d), max(d)) + 1 FROM cur")
    # FactBuilder joins customers on (name, country, region) only
    out["names_unique"] = q("""SELECT count(DISTINCT (name, country, region)) =
                                      count(DISTINCT (name, contact, addr, country, region)) FROM cur""")
    return out


def check(out_dir, manifest):
    con = duckdb.connect()
    full = derive(con, [f"{out_dir}/full"])
    both = derive(con, [f"{out_dir}/full", f"{out_dir}/incr"])
    incr_only = derive(con, [f"{out_dir}/incr"])
    m_full, m_incr = manifest["full"], manifest["incr"]
    problems = []

    def same(what, got, want):
        if got != want:
            problems.append(f"{what}: files say {got}, manifest says {want}")
    for k in ("source", "curated", "curated_amount_cents", "dims", "date_dim"):
        same(f"full.{k}", full[k], m_full[k])
    same("full.fact", sum(full["curated"].values()), m_full["fact"])
    same("incr.source", incr_only["source"], m_incr["source"])
    same("incr.curated", {c: full["curated"][c] + both["curated"][c] for c in full["curated"]},
         m_incr["curated"])
    same("incr.curated_amount_cents",
         {c: full["curated_amount_cents"][c] + both["curated_amount_cents"][c] for c in full["curated"]},
         m_incr["curated_amount_cents"])
    same("incr.dims", {k: both["dims"][k] - full["dims"][k] for k in full["dims"]}, m_incr["dims"])
    same("incr.date_dim", both["date_dim"] - full["date_dim"], m_incr["date_dim"])
    same("customer names unique per (country, region)", both["names_unique"], True)
    # the quirks the layout must carry
    in_csv = glob.glob(f"{out_dir}/full/sales/source=IN/format=csv/date=*/*.csv")
    text = "".join(open(f).read() for f in in_csv)
    same("IN csv has quoted newlines", '",\nBlock' not in text and "Street,\nBlock" in text, True)
    same("IN csv has null literals", ",null," in text, True)
    same("redelivered files present", bool(glob.glob(f"{out_dir}/*/sales/*/*/*/*-redelivered.*")), True)
    same("skipped rows planted", all(v["skipped"] > 0 for v in full["source"].values()), True)
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(here, ".run", f"gen_test_{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    try:
        manifest = gen_medallion.generate(out, a.seed, **MEDALLION)
        problems = check(out, manifest)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("generator manifest matches DuckDB" if not problems else f"{len(problems)} mismatches")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
