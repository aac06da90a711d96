"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf_dir, compares row count, column names, and
order-insensitive cell values (columns sorted by name, rows sorted by all
columns). Usage:

    python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        df[c] = df[c].map(lambda v: None if v is None or v != v else
                          (round(v, 9) if isinstance(v, float) else v))
        df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from s_crawler_spark.session import get_spark

    spark = get_spark("contract-check", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        try:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        except duckdb.Error:
            pass

    qs, oracles = e.queries(), e.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            failed.append(name)
            continue
        g, x = normalize(got), normalize(exp)
        if list(g.columns) != list(x.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(x.columns)}")
            failed.append(name)
            continue
        if len(g) != len(x):
            print(f"FAIL {name}: rows {len(g)} vs {len(x)}")
            failed.append(name)
            continue
        neq = (g != x).any(axis=1)
        if neq.any():
            i = neq.idxmax()
            print(f"FAIL {name}: {int(neq.sum())}/{len(g)} rows differ; first:")
            print("  spark :", g.iloc[i].to_dict())
            print("  oracle:", x.iloc[i].to_dict())
            failed.append(name)
        else:
            print(f"ok   {name}: {len(g)} rows match")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
