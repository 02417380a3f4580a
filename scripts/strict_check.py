"""Replicate the driver's EXACT-hash correctness gate: round floats to 6
decimals on both sides and require bit-identical values. Reports every
cell that flips, with full-precision values from both engines, so the
offending algebra can be aligned.

Usage: python scripts/strict_check.py [sf_dir] [query ...]
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
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def strict_compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Return a list of human-readable diffs after round(6) on both sides."""
    if set(spark_pdf.columns) != set(duck_pdf.columns):
        return [f"SCHEMA spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"]
    if len(spark_pdf) != len(duck_pdf):
        return [f"ROWS spark={len(spark_pdf)} duck={len(duck_pdf)}"]

    raw_a, raw_b = normalize(spark_pdf), normalize(duck_pdf)
    a, b = raw_a.copy(), raw_b.copy()
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            a[c] = a[c].round(6)
        if pd.api.types.is_float_dtype(b[c]):
            b[c] = b[c].round(6)
    # Re-sort on the ROUNDED values: the driver sorts after rounding, so a
    # pre-round ordering difference is not itself a failure.
    a_r = a.sort_values(list(a.columns)).reset_index(drop=True)
    b_r = b.sort_values(list(b.columns)).reset_index(drop=True)
    # Keep raw values aligned with the re-sorted rounded frames.
    raw_a = raw_a.loc[a.sort_values(list(a.columns)).index].reset_index(drop=True)
    raw_b = raw_b.loc[b.sort_values(list(b.columns)).index].reset_index(drop=True)

    diffs: list[str] = []
    for c in a_r.columns:
        av, bv = a_r[c], b_r[c]
        if pd.api.types.is_float_dtype(av):
            neq = ~((av == bv) | (av.isna() & bv.isna()))
        else:
            neq = av.fillna("__N") != bv.fillna("__N")
        idx = np.where(neq.values)[0]
        for ix in idx[:5]:
            diffs.append(
                f"col={c} row{ix}: spark={raw_a[c].iloc[ix]!r} duck={raw_b[c].iloc[ix]!r}"
                f" (rounded {av.iloc[ix]!r} vs {bv.iloc[ix]!r})"
            )
        if len(idx) > 5:
            diffs.append(f"col={c}: ... {len(idx) - 5} more rows differ")
    return diffs


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    # Spark's Python workers import the package from PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
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
        spark_pdf = fn(spark, sf_dir).toPandas()
        duck_pdf = con.execute(oracles[name]).df()
        diffs = strict_compare(name, spark_pdf, duck_pdf)
        if diffs:
            failures += 1
            print(f"{name:28s} STRICT FAIL ({len(diffs)} diffs)")
            for d in diffs[:20]:
                print(f"    {d}")
        else:
            print(f"{name:28s} rows={len(spark_pdf):6d} STRICT OK")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
