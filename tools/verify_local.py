"""Local replica of the driver's correctness gate.

Runs every entry in __spark_entry__.queries() at a given sf dir, runs the
matching oracle_sql() in DuckDB over the same parquet files, and compares
row count, column names, and order-insensitive canonical values.

Usage:  python tools/verify_local.py [sf_dir] [key ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _num_repr(v) -> str:
    """Canonical text for one numeric value: integral values print as ints
    regardless of physical dtype (DuckDB HUGEINT→float64 `138014.0` must equal
    Spark int64 `138014`); non-integral as exact float repr."""
    if pd.isna(v):
        return "\0NULL"
    f = float(v)
    if f == int(f) and abs(f) < 2**53:
        return str(int(f))
    return repr(f)


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows — mirrors an
    order-insensitive value hash."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64").where(~s.isna(), -1)
        elif pd.api.types.is_numeric_dtype(s):
            df[c] = s.map(_num_repr)
        elif s.dtype == object:
            import decimal

            df[c] = s.map(
                lambda v: "\0NULL"
                if v is None or (isinstance(v, float) and np.isnan(v))
                else (_num_repr(v) if isinstance(v, (int, float, decimal.Decimal)) else str(v))
            )
        else:
            df[c] = s.astype("object").map(lambda v: "\0NULL" if pd.isna(v) else str(v))
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _dtype_kind(s: pd.Series) -> str:
    """Physical-dtype normalization table. The driver's value hash is
    representation-sensitive (int64 `138014` != float64 `138014.0`), so the
    local replica must flag any cross-engine dtype divergence the pandas
    materialization preserves. Normalizations applied (and ONLY these):

    - all integer widths/signedness -> 'int' (hash prints ints identically)
    - float32/float64 -> 'float'
    - any datetime64 resolution/tz -> 'datetime' (hash uses epoch micros)
    - everything else (bool, object/str, decimal) -> its pandas kind

    NOT normalized: int vs float — a nullable int column becomes float64 on
    BOTH engines (NaN forces it), so a kind mismatch always means one engine
    widened (e.g. DuckDB HUGEINT window-sum -> float64 vs Spark BIGINT)."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return str(s.dtype)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"schema mismatch: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    for c in sorted(spark_pdf.columns):
        ks, kd = _dtype_kind(spark_pdf[c]), _dtype_kind(duck_pdf[c])
        if ks != kd:
            problems.append(
                f"dtype mismatch in '{c}': spark={spark_pdf[c].dtype}({ks}) "
                f"duck={duck_pdf[c].dtype}({kd}) — driver hash WILL differ")
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount mismatch: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = canonicalize(spark_pdf), canonicalize(duck_pdf)
    # len 0: nothing to value-compare (pd.equals is dtype-sensitive even on
    # empty frames; the kind check above already covers dtype drift)
    if len(a) == len(b) and len(a) > 0 and not a.equals(b):
        neq = (a != b)
        bad_cols = [c for c in a.columns if neq[c].any()]
        n_bad = int(neq.any(axis=1).sum())
        problems.append(f"value mismatch in cols {bad_cols} ({n_bad}/{len(a)} rows differ)")
        mask = neq.any(axis=1)
        problems.append("spark sample:\n" + a[mask].head(3).to_string())
        problems.append("duck  sample:\n" + b[mask].head(3).to_string())
    return problems


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from obadiah_spark.session import get_spark, load_tables

    spark = get_spark("verify_local")
    load_tables(spark, sf_dir)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for key, fn in qs.items():
        if only and key not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {key}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        try:
            duck_pdf = con.sql(oracles[key]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {key}: duckdb raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = compare(key, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL  {key}:")
            for p in problems:
                print("      " + p.replace("\n", "\n      "))
            n_fail += 1
        else:
            print(f"pass  {key}: rows={len(spark_pdf)}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    if n_pass + n_fail == 0:
        print("ERROR: zero queries verified — queries() empty or all keys filtered out")
        sys.exit(2)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
