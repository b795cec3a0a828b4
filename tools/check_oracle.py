"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 and compares
against oracle_sql() via DuckDB: row count, column names, and an
order-insensitive value comparison (columns sorted by name, rows
sorted). Reports per-query PASS/FAIL with diffs.
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from semhash_spark.sources.tables import TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns differ: {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count {len(spark_pdf)} vs {len(duck_pdf)}")
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
                import numpy as np

                av, bv = a[c].astype(float).to_numpy(), b[c].astype(float).to_numpy()
                bad = ~(np.isclose(av, bv, rtol=0, atol=0) | (pd.isna(av) & pd.isna(bv)))
                if bad.any():
                    i = int(bad.argmax())
                    problems.append(
                        f"float col {c}: {int(bad.sum())} mismatches, first at row {i}: "
                        f"{av[i]!r} vs {bv[i]!r} (delta {abs(av[i]-bv[i]):.2e})"
                    )
            else:
                neq = (a[c] != b[c]) & ~(a[c].isna() & b[c].isna())
                if neq.any():
                    i = int(neq.to_numpy().argmax())
                    problems.append(
                        f"col {c}: {int(neq.sum())} mismatches, first at row {i}: "
                        f"{a[c].iloc[i]!r} vs {b[c].iloc[i]!r}"
                    )
    return problems


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None) -> int:
    from semhash_spark.session import get_spark

    spark = get_spark(app_name="check_oracle", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"    {p}")
        else:
            print(f"PASS {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
    entrymod.release_caches()
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    only = sys.argv[1:] or None
    raise SystemExit(main(only=only))
