"""Dtype-sensitive hash comparison: a stricter replica of a driver-style
value hash.  strict_check.py compares with ``==`` (so float64 5.0 ==
int64 5 passes); this script hashes each column with
``pd.util.hash_pandas_object`` after rounding, which IS sensitive to
float-vs-int cell types — the failure mode behind round 2's four
"hash-only" mismatches (DuckDB HUGEINT -> pandas float64).

Usage: python scripts/hash_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd


def col_hashes(df: pd.DataFrame) -> dict:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return {
        c: int(pd.util.hash_pandas_object(df[c], index=False).sum())
        for c in df.columns
    }, {c: str(df[c].dtype) for c in df.columns}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from time_series_data_anomaly_detection_spark import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        sh, sdt = col_hashes(fn(spark, sf_dir).toPandas())
        dh, ddt = col_hashes(con.execute(oracles[name]).df())
        bad = [c for c in sh if sh[c] != dh.get(c)]
        if bad:
            failures += 1
            print(f"{name:28s} HASH FAIL cols={bad}")
            for c in bad:
                print(f"    {c}: spark dtype={sdt[c]} duck dtype={ddt.get(c)}")
        else:
            print(f"{name:28s} hash OK")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
