"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the given
sf_dir, normalizes (columns sorted by name, rows sorted by all columns), and
compares row-count, column names/types, and exact values.  A gate's
fixture is built before its timer starts; its build time prints as
``setup`` next to the timed read.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dlt_iceberg_spark.queries import REGISTRY  # noqa: E402
from dlt_iceberg_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def mismatched_columns(a: pd.DataFrame, b: pd.DataFrame) -> list[tuple]:
    """(column, n_bad, dtype_a, dtype_b) for every column whose values
    differ between two normalized frames of equal shape."""
    out = []
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            eq = (av.isna() & bv.isna()) | (av == bv)
            bad = int((~eq).sum())
        except Exception:
            bad = -1
        # The correctness gate hashes VALUES, so an int64-vs-float64 drift
        # (e.g. DuckDB HUGEINT -> pandas float64) hash-mismatches even
        # when == says equal.  Treat integer-vs-float kind drift as a
        # failure here too, so it's caught before the gate sees it.
        kinds = {av.dtype.kind, bv.dtype.kind}
        if bad == 0 and kinds == {"i", "f"}:
            bad = -2
        if bad != 0:
            out.append((c, bad, str(av.dtype), str(bv.dtype)))
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures = []
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            t0 = time.perf_counter()
            spec.fixture(spark, sf_dir)
            setup = f", setup {time.perf_counter() - t0:.2f}s" if spec.setup else ""
            t0 = time.perf_counter()
            spark_pd = spec.fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        dt = f"[{time.perf_counter() - t0:.2f}s{setup}]"
        if spec.oracle is None:
            print(f"ok?  {name}: rows-only ({len(spark_pd)} rows) {dt}")
            continue
        try:
            oracle_pd = con.execute(spec.oracle).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: oracle error: {exc}")
            continue
        a, b = normalize(spark_pd), normalize(oracle_pd)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL {name}: rowcount {len(a)} vs {len(b)}")
            continue
        mismatched_cols = mismatched_columns(a, b)
        if mismatched_cols:
            failures.append(name)
            print(f"FAIL {name}: value mismatch {mismatched_cols}")
            for c, _, _, _ in mismatched_cols[:2]:
                diffmask = ~((a[c].isna() & b[c].isna()) | (a[c] == b[c]))
                print("  spark:", a[diffmask].head(3).to_dict("records"))
                print("  oracle:", b[diffmask].head(3).to_dict("records"))
        else:
            print(f"PASS {name} ({len(a)} rows) {dt}")
    spark.stop()
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL PASS")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
