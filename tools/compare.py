"""Local emulation of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
sf0.01, compare row count, sorted column names, and order-insensitive
values.  Usage: python tools/compare.py [sf_dir] [query ...]"""

from __future__ import annotations

import pathlib
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import decimal

    import numpy as np

    if v is None or v is pd.NA:
        return ""
    if isinstance(v, float) and v != v:
        return ""
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        # Decimal normalizes through the same float format so scale
        # artifacts (1.50 vs 1.5) can't flake a decimal-vs-decimal
        # comparison; decimal-vs-DOUBLE drift is still flagged by
        # dtype_kind before values are compared
        f = float(v)
        return str(int(f)) if f == int(f) else f"{f:.6f}".rstrip("0")
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def dtype_kind(series: pd.Series) -> str:
    """Collapse a column to the kind class the driver's value-hash is
    sensitive to: int vs float vs bool vs str vs other.  This exists
    because ``norm_cell`` collapses 32.0 -> "32", which hid the DuckDB
    HUGEINT->float64 vs Spark int64 mismatch that made the r1 sessionize
    and r2 repetition_signals gate rows red.  An object column falls back
    to the Python type of its first non-null value.  DECIMAL columns
    (both Spark DecimalType and DuckDB DECIMAL arrive in pandas as
    object columns of decimal.Decimal) get their own kind (round-4,
    VERDICT r3 task 10): a money-typed oracle drifting to DOUBLE — or
    vice versa — is the next likely driver-red flake class and must
    fail locally before values are even compared."""
    import decimal

    import numpy as np

    k = series.dtype.kind
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k in ("U", "S"):
        return "str"
    if k == "O":
        for v in series:
            if v is None or v is pd.NA or (isinstance(v, float) and v != v):
                continue
            if isinstance(v, (bool, np.bool_)):
                return "bool"
            if isinstance(v, decimal.Decimal):
                return "decimal"
            if isinstance(v, (int, np.integer)):
                return "int"
            if isinstance(v, (float, np.floating)):
                return "float"
            if isinstance(v, str):
                return "str"
            return "other"
        return "empty"
    return "other"


def dtype_mismatches(got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    bad = []
    for c in sorted(got.columns):
        kg, ke = dtype_kind(got[c]), dtype_kind(exp[c])
        if "empty" in (kg, ke) or kg == ke:
            continue
        # int-typed values inside a float column is exactly the driver-red
        # class; any kind flip is suspicious enough to fail locally.
        bad.append(f"{c}: spark={kg} oracle={ke}")
    return bad


def main() -> int:
    import __spark_entry__ as entrymod
    from investigraph_etl_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("compare", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {e}")
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(got)} rows, {dt:.1f}s)")
            if len(got) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {sorted(got.columns)} vs {sorted(exp.columns)}")
            continue
        if len(got) != len(exp):
            failures.append(name)
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
            continue
        dbad = dtype_mismatches(got, exp)
        if dbad:
            failures.append(name)
            print(f"FAIL {name}: dtype-kind mismatch {'; '.join(dbad)}")
            continue
        cg, ce = canon(got), canon(exp)
        if cg != ce:
            failures.append(name)
            bad = next(i for i, (a, b) in enumerate(zip(cg, ce)) if a != b)
            print(f"FAIL {name}: values differ at sorted row {bad}:")
            print(f"  spark : {cg[bad]}")
            print(f"  duckdb: {ce[bad]}")
            continue
        print(f"ok   {name}: {len(got)} rows match ({dt:.1f}s)")
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
