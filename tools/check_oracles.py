"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare row count,
schema width, and order-insensitive values."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

# the checkout this script lives in, ahead of any installed copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        return problems
    a, b = norm(sdf), norm(odf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                ok = [
                    (math.isnan(x) and math.isnan(y)) or x == y
                    or abs(x - y) <= 1e-12 * max(1.0, abs(x), abs(y))
                    for x, y in zip(av.astype(float), bv.astype(float))
                ]
                nbad = len(ok) - sum(ok)
                if nbad:
                    bad_idx = [i for i, o in enumerate(ok) if not o][:3]
                    problems.append(
                        f"col {c}: {nbad} mismatches, e.g. "
                        + str([(av.iloc[i], bv.iloc[i]) for i in bad_idx])
                    )
                # also check exactness (the driver may hash exact values)
                nexact = sum(
                    1
                    for x, y in zip(av.astype(float), bv.astype(float))
                    if not ((math.isnan(x) and math.isnan(y)) or x == y)
                )
                if nexact and not nbad:
                    problems.append(f"col {c}: {nexact} non-bitwise (within tol)")
            else:
                neq = (av.astype(str) != bv.astype(str)).sum()
                if neq:
                    problems.append(f"col {c}: {neq} mismatches")
    return problems


def main():
    import __spark_entry__ as entry_mod
    from exactextractr_spark.session import get_spark

    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"[FAIL] {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"[FAIL] {name}: duckdb error {e}")
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        hard = [p for p in problems if "non-bitwise" not in p]
        if hard:
            print(f"[FAIL] {name}: " + "; ".join(problems))
            failures += 1
        elif problems:
            print(f"[WARN] {name}: " + "; ".join(problems))
        else:
            print(f"[ok]   {name}: {len(sdf)} rows bit-exact")
    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
