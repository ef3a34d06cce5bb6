"""Seeded benchmark inputs, written as parquet before Spark starts.

Every table is a pure function of ``(seed, sf)`` (and the corpus of
``(seed, rows)``), so the same seed gives the same inputs and the exact
DuckDB references read the very files Spark reads.

The TPC-H-like tables follow the shape of the library's test data:
uniform keys, ship dates in 1995-01-02..2001-11-04, discounts 0-0.10.
The corpus rows come from ``verdictdb_spark.datagen``'s partition
generator, the same function ``code_files`` runs inside Spark, plus an
``id`` column for dedup.
"""

from __future__ import annotations

import os
from datetime import date

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SHIP_LO, SHIP_HI = date(1995, 1, 2), date(2001, 11, 4)
ORDER_LO, ORDER_HI = date(1995, 1, 1), date(2001, 8, 1)
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "lineitem": int(6_000_000 * sf),
        "orders": int(1_500_000 * sf),
        "customer": max(int(150_000 * sf), 10),
        "parts": max(int(200_000 * sf), 10),
    }


def _days(rng, lo: date, hi: date, n: int):
    offsets = rng.integers(0, (hi - lo).days + 1, n).astype("timedelta64[D]")
    return (np.datetime64(lo) + offsets).astype("datetime64[us]")


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def write_tpch(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """lineitem / orders / customer parquet under ``out_dir``; returns
    the row count of each."""
    n = table_sizes(sf)
    rng = np.random.default_rng([seed, 1])
    nl, no, nc = n["lineitem"], n["orders"], n["customer"]
    _write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, no, nl),
                "l_partkey": rng.integers(0, n["parts"], nl),
                "l_suppkey": rng.integers(0, max(no // 150, 10), nl),
                "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, nl), 2),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
                "l_shipdate": _days(rng, SHIP_LO, SHIP_HI, nl),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    _write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(no, dtype=np.int64),
                "o_custkey": rng.integers(0, nc, no),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
                "o_totalprice": np.round(rng.uniform(800.0, 500_000.0, no), 2),
                "o_orderdate": _days(rng, ORDER_LO, ORDER_HI, no),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(nc, dtype=np.int64),
                "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    return {"lineitem": nl, "orders": no, "customer": nc}


def write_corpus(
    path: str, seed: int, rows: int, n_repos: int, max_words: int, partitions: int = 8
) -> int:
    """The ``code_files`` corpus for ``seed`` as one parquet file with
    a dense ``id`` column; returns its row count."""
    from verdictdb_spark.datagen import _gen_partition

    per = rows // partitions
    parts = [
        _gen_partition(pid, per, n_repos, seed, 0.20, max_words)
        for pid in range(partitions)
    ]
    df = pd.concat(parts, ignore_index=True)
    df.insert(0, "id", np.arange(len(df), dtype=np.int64))
    _write(df, path)
    return len(df)
