"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at the given sf dir, runs the matching
``oracle_sql()`` in DuckDB over the same parquet, and compares row count,
column names, and the exact multiset of values (columns sorted by name,
like the driver).

Usage: python scripts/check_entry.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

import duckdb
import pandas as pd

if len(sys.argv) > 1:
    # point the analytic oracles (oracle/analytic.py) at the same sf dir
    # the queries run at — must happen before oracle_sql() is called
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sys.argv[1])

import __spark_entry__ as E
from no_fasel_scrapers_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return (
        df.sort_values(by=list(df.columns))
        .reset_index(drop=True)
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="check_entry", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: spark raised {type(ex).__name__}: {ex}")
            continue
        dt = time.time() - t0
        odf = con.execute(oracles[name]).df()
        if sorted(sdf.columns) != sorted(odf.columns):
            failures.append(name)
            print(
                f"FAIL {name}: columns {sorted(sdf.columns)} vs "
                f"{sorted(odf.columns)}"
            )
            continue
        if len(sdf) != len(odf):
            failures.append(name)
            print(f"FAIL {name}: rowcount {len(sdf)} vs {len(odf)}")
            continue
        a, b = canon(sdf), canon(odf)
        # dtypes can legitimately differ (int32 vs int64) — compare values
        try:
            b = b.astype(a.dtypes.to_dict())
        except (TypeError, ValueError):
            pass
        if not a.equals(b):
            neq = [
                c for c in a.columns if not a[c].equals(b[c])
            ]
            failures.append(name)
            print(f"FAIL {name}: value mismatch in columns {neq}")
            for c in neq[:2]:
                mask = a[c] != b[c]
                print(f"  {c}: spark={a[c][mask].head(3).tolist()} "
                      f"oracle={b[c][mask].head(3).tolist()}")
            continue
        print(f"ok   {name}: {len(sdf)} rows match oracle ({dt:.1f}s)")

    if not only:
        t0 = time.time()
        edf = E.entry(spark).toPandas()
        print(f"ok   entry(): {len(edf)} rows ({time.time()-t0:.1f}s)")
        print(edf.head(10).to_string())

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
