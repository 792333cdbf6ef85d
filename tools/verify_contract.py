"""One-command driver-contract verification: runs entry() plus every
catalog query (or the named ones) against its DuckDB oracle with the
driver's compare semantics (sort columns by name, sort rows, equal
column names and row counts, exact values with NULL == NULL and
NaN == NaN) and prints one line per query, the first mismatching values
of each failing query, and a summary.

Usage: python tools/verify_contract.py [sf_dir] [master] [query ...]
       (defaults: /root/testdata/sf0.01, local[16], every query)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
SHOW_MISMATCHES = 5


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def mismatches(a, b) -> list[str]:
    """Differences between two canonical frames; empty when they match."""
    import pandas as pd

    if list(a.columns) != list(b.columns):
        return [f"columns: spark={list(a.columns)} oracle={list(b.columns)}"]
    if len(a) != len(b):
        return [f"rows: spark={len(a)} oracle={len(b)}"]
    out = []
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c], b[c])):
            if not (x == y or (pd.isna(x) and pd.isna(y))):
                out.append(f"col={c} row={i}: spark={x!r} oracle={y!r}")
                if len(out) == SHOW_MISMATCHES:
                    return out
    return out


def main() -> int:
    import duckdb

    from ddsketch_spark.plans.session import get_spark
    import __spark_entry__ as e

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    master = sys.argv[2] if len(sys.argv) > 2 else "local[16]"
    only = set(sys.argv[3:])
    Q, O = e.queries(), e.oracle_sql()
    unknown = only - set(Q)
    if unknown:
        print(f"unknown queries: {sorted(unknown)}")
        return 2
    spark = get_spark("verify-contract", master=master, shuffle_partitions=16)
    print("entry():", e.entry(spark).count(), "rows")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    names = [n for n in Q if not only or n in only]
    fails = []
    for name in names:
        try:
            a = canon(Q[name](spark, sf).toPandas())
            b = canon(con.execute(O[name]).fetchdf())
            bad = mismatches(a, b)
            print(f"{name}: {'MISMATCH' if bad else 'OK'} ({len(a)} rows)")
            for line in bad:
                print(f"  {line}")
            if bad:
                fails.append(name)
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            fails.append(name)
    print(f"\n{len(names) - len(fails)}/{len(names)} queries match oracles at {sf}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
