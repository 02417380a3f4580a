"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at the given SF, compare
row counts, column sets, and order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str:
    if set(spark_pdf.columns) != set(duck_pdf.columns):
        return f"SCHEMA MISMATCH spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"ROWCOUNT MISMATCH spark={len(spark_pdf)} duck={len(duck_pdf)}"
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if pd.api.types.is_float_dtype(a[c]):
            ok = np.allclose(av, bv, rtol=0, atol=1.5e-6, equal_nan=True)
        else:
            ok = (pd.Series(av).fillna("__N") == pd.Series(bv).fillna("__N")).all()
        if not ok:
            bad = np.where(
                ~np.isclose(av.astype(float), bv.astype(float), rtol=0, atol=1.5e-6, equal_nan=True)
            )[0][:3] if pd.api.types.is_float_dtype(a[c]) else []
            detail = "; ".join(
                f"row{ix}: spark={av[ix]} duck={bv[ix]}" for ix in bad
            )
            return f"VALUE MISMATCH col={c} {detail}"
    return "OK"


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
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name:28s} SPARK ERROR: {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"{name:28s} rows={len(spark_pdf)} (no oracle — rows-only)")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"{name:28s} DUCKDB ERROR: {type(e).__name__}: {e}")
            failures += 1
            continue
        verdict = compare(name, spark_pdf, duck_pdf)
        print(f"{name:28s} rows={len(spark_pdf):6d} {verdict}")
        if verdict != "OK":
            failures += 1
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
