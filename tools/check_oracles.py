"""Driver-mimic: run every queries() entry at sf0.01 and diff against
its oracle_sql() through DuckDB — row count, column names, and
order-insensitive value comparison (columns sorted by name, rows
sorted by all values, stringified at full precision).

Usage: python tools/check_oracles.py [name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

# the checkout this file lives in: its library is the one checked
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(by=list(pdf.columns), kind="stable").reset_index(drop=True)
    return pdf


def main(only: list[str]) -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = only or list(qs)
    failures = 0
    for name in names:
        t0 = time.monotonic()
        try:
            got = qs[name](spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: query raised {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(got)} rows, {dt:.1f}s)")
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle raised {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}")
            failures += 1
            continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
            failures += 1
            continue
        diff_cols = []
        for c in g.columns:
            a, b = g[c], e[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                import numpy as np

                same = np.allclose(
                    a.astype(float), b.astype(float), rtol=0, atol=0, equal_nan=True
                )
            else:
                same = a.astype(str).equals(b.astype(str))
            if not same:
                diff_cols.append(c)
        if diff_cols:
            print(f"FAIL {name}: value mismatch in {diff_cols}")
            for c in diff_cols[:2]:
                mask = g[c].astype(str) != e[c].astype(str)
                print("  spark:", g[mask].head(3).to_dict("records"))
                print("  duck :", e[mask].head(3).to_dict("records"))
            failures += 1
        else:
            print(f"ok   {name}: MATCH ({len(g)} rows, {dt:.1f}s)")
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1:]) else 0)
