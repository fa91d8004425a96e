"""Local replica of the driver's correctness gate: run every entry in
``__spark_entry__.queries()`` on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, compare row count, column names/types, and
order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize cell values, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        import datetime
        import decimal

        import numpy as np

        # scalar NULL-ish first: pd.NaT passes isinstance datetime and
        # strftime raises; np.float32 NaN is not a `float` subclass
        # (ROUND7_NOTES.md).
        # Guarded against containers: pd.isna(list) is elementwise.
        if not isinstance(v, (list, np.ndarray, str, bytes)) and pd.isna(v):
            return "NULL"
        if v is None:
            return "NULL"
        if isinstance(v, decimal.Decimal):
            return f"{v:.6f}"
        if isinstance(v, (float, np.floating)):
            return f"{float(v):.6f}"
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        if isinstance(v, (pd.Timestamp, datetime.datetime)):
            return pd.Timestamp(v).strftime("%Y-%m-%d %H:%M:%S.%f")
        # plain DATE: Spark yields datetime.date, DuckDB datetime64 —
        # canonicalize both to the midnight timestamp form
        if isinstance(v, datetime.date):
            return pd.Timestamp(v).strftime("%Y-%m-%d %H:%M:%S.%f")
        if isinstance(v, (list, np.ndarray)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        return str(v)

    out = df.map(norm)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(
        drop=True
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from kafka_streams_spark import get_spark

    spark = get_spark(app_name="oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    # a typo'd name would otherwise match nothing and '0/0 queries
    # match' would read as success (ROUND7_NOTES.md)
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query names: {sorted(unknown)}", file=sys.stderr)
        return 2
    failures = []
    n_checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_checked += 1
        sdf = fn(spark, sf_dir)
        # Driver trap: DECIMAL outputs arrive as decimal.Decimal from
        # Spark but float64 from DuckDB's fetchdf, and trailing-zero
        # values canonicalize differently in the driver's hash (even
        # though this tool's canon() hides it). Outputs must be scaled
        # BIGINT / DOUBLE / string — never DecimalType.
        dec_cols = [f.name for f in sdf.schema.fields if "decimal" in f.dataType.simpleString()]
        if dec_cols:
            failures.append(name)
            print(f"✗ {name:34s} DECIMAL output columns (driver hash trap): {dec_cols}")
            continue
        # Driver trap #2: array outputs arrive as Python lists, which the
        # driver's canonicalizer cannot sort/hash (unhashable type). Vector
        # results must be exploded to (id, pos, value) scalar rows. The
        # driver canonicalizes EVERY registered query's output — including
        # rows-only ones (r03's winnowing_fingerprints crashed before its
        # row count was even recorded) — so the sweep applies to all.
        arr_cols = [f.name for f in sdf.schema.fields if "array" in f.dataType.simpleString()]
        if arr_cols:
            failures.append(name)
            print(f"✗ {name:34s} ARRAY output columns (driver sort trap): {arr_cols}")
            continue
        spark_pd = sdf.toPandas()
        if name not in oracles:
            print(f"  {name:34s} rows={len(spark_pd):7d}  (rows-only; no oracle)")
            continue
        duck_pd = con.execute(oracles[name]).fetchdf()
        status = []
        if len(spark_pd) != len(duck_pd):
            status.append(f"ROWS {len(spark_pd)} != {len(duck_pd)}")
        if sorted(spark_pd.columns) != sorted(duck_pd.columns):
            status.append(
                f"COLS {sorted(spark_pd.columns)} != {sorted(duck_pd.columns)}"
            )
        if not status:
            a, b = canon(spark_pd), canon(duck_pd)
            if not a.equals(b):
                diff = (a != b).any(axis=1)
                status.append(f"VALUES mismatch on {int(diff.sum())} rows")
                ex = diff[diff].index[:3]
                for i in ex:
                    status.append(f"    spark: {a.loc[i].to_dict()}")
                    status.append(f"    duck : {b.loc[i].to_dict()}")
        if status:
            failures.append(name)
            print(f"✗ {name:34s} " + "; ".join(status[:1]))
            for line in status[1:]:
                print(line)
        else:
            print(f"✓ {name:34s} rows={len(spark_pd):7d}")

    scope = f" (subset of {len(qs)})" if only else ""
    print(f"\n{n_checked - len(failures)}/{n_checked} queries match{scope}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
