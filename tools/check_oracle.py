"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry at sf0.01 and compare against its
DuckDB oracle_sql() — row count, column names, and an order-insensitive
value comparison (floats canonicalized to 9 significant digits).

Usage: python tools/check_oracle.py [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize cell values, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype.kind in "fc":
            df[c] = s.map(
                lambda v: "NULL"
                if v is None or (isinstance(v, float) and math.isnan(v))
                else f"{float(v):.9g}"
            )
        elif s.dtype.kind in "iu":
            df[c] = s.map(lambda v: "NULL" if pd.isna(v) else str(int(v)))
        elif s.dtype.kind == "M":
            df[c] = s.map(lambda v: "NULL" if pd.isna(v) else v.isoformat())
        else:
            df[c] = s.map(
                lambda v: "NULL"
                if v is None or (isinstance(v, float) and math.isnan(v))
                else (f"{float(v):.9g}" if isinstance(v, float) else str(v))
            )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def driver_like_spark():
    """Replicate the DRIVER's session, not the builder's get_spark():
    Spark 4 defaults (ANSI on, no parquet legacy confs). Queries must
    set any conf they need at runtime — running the gate on a pampered
    session masked exactly that class of bug in round 1."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return (
        SparkSession.builder.appName("oracle-check-driverlike")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )


def main() -> int:
    import __spark_entry__ as entrymod

    spark = driver_like_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:])
    failures, passes, rows_only = [], [], []

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"✗ {name}: spark error: {str(e)[:200]}")
            continue
        if name not in oracles:
            rows_only.append((name, len(sdf)))
            print(f"~ {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"✗ {name}: oracle error: {str(e)[:200]}")
            continue

        problems = []
        if len(sdf) != len(odf):
            problems.append(f"row count {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            cs, co = canonical(sdf), canonical(odf)
            if not cs.equals(co):
                diff_cols = [
                    c for c in cs.columns if not cs[c].equals(co[c])
                ]
                neq = (cs != co).any(axis=1)
                ex = pd.concat(
                    [cs[neq].head(3).add_suffix("_spark"), co[neq].head(3).add_suffix("_oracle")],
                    axis=1,
                )
                problems.append(f"value mismatch in {diff_cols}; examples:\n{ex}")
        if problems:
            failures.append((name, "; ".join(p.split(chr(10))[0] for p in problems)))
            print(f"✗ {name}: " + " | ".join(problems))
        else:
            passes.append(name)
            print(f"✓ {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")

    print(
        f"\n{len(passes)} matched, {len(rows_only)} rows-only, {len(failures)} failed"
        f" (of {len(qs)} queries)"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
