#!/usr/bin/env python3
"""Print one line per table of a medallion warehouse: its path under the
warehouse (`<db>.db/<table>`), its row count, the md5 of its sorted rows
and its ordered schema (partition columns last, as the Spark catalog
lists them). Two warehouses that hold the same tables print the same
lines, so a `diff` of two runs' output checks that a change left every
table as it was, surrogate keys included.

Usage: python3 tools/warehouse_digest.py <warehouse>
"""
import glob
import os
import sys

import duckdb

wh = sys.argv[1]
con = duckdb.connect()
for t in sorted(glob.glob(f"{wh}/*.db/*")):
    src = f"read_parquet('{t}/**/*.parquet', hive_partitioning = 1)"
    cols = con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()
    n, dig = con.sql(f"SELECT count(*), md5(string_agg(r, chr(10) ORDER BY r)) "
                     f"FROM (SELECT CAST(t AS VARCHAR) r FROM {src} t)").fetchone()
    print(os.path.relpath(t, wh), n, dig, " ".join(f"{c[0]}:{c[1]}" for c in cols))
