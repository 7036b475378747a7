"""Local driver-style correctness harness: Spark queries vs DuckDB oracles.

Mimics the round driver: for each name in ``queries()`` with an
``oracle_sql()`` entry, run both at the given sf and compare row count,
sorted column names, and an order-insensitive canonical value hash.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = ("events", "documents", "embeddings")


def canon(df: pd.DataFrame) -> tuple:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6f}".rstrip("0").rstrip(".")
        try:
            if pd.isna(v):
                return "NULL"
        except (TypeError, ValueError):
            pass
        return str(v)

    rows = sorted("\x01".join(cell(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(df), list(df.columns), h, rows


def main() -> int:
    import __spark_entry__ as entrymod
    from htep_spark.sources.io import get_spark

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # driver-cap overflow: oracle-paired operators held out of the driver's
    # 50-row window (__spark_entry__.DRIVER_CAP_OVERFLOW) still replay here
    from htep_spark.driver_queries import QUERIES as _ALL_QUERIES

    for name in getattr(entrymod, "DRIVER_CAP_OVERFLOW", ()):
        fn, sql = _ALL_QUERIES[name]
        qs[name] = fn
        if sql is not None:
            oracles[name] = sql
    failures = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        if name not in oracles:
            # the round driver canonicalizes rows-only results too
            # (pandas sort_values over every column — crashes on list
            # cells), so replicate that here, not just .count()
            try:
                pdf = fn(spark, SF_DIR).toPandas()
                pdf.sort_values(list(pdf.columns))  # driver _canon step
                n, _, h, _ = canon(pdf)
                print(f"{name:20s} rows-only: {n} rows OK (hash {h})")
            except Exception as e:
                failures += 1
                print(f"{name:20s} ROWS-ONLY FAILED: {repr(e)[:300]}")
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures += 1
            print(f"{name:20s} SPARK FAILED: {repr(e)[:300]}")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures += 1
            print(f"{name:20s} DUCKDB FAILED: {repr(e)[:300]}")
            continue
        sn, scols, shash, srows = canon(sdf)
        dn, dcols, dhash, drows = canon(ddf)
        ok = (sn, scols, shash) == (dn, dcols, dhash)
        print(
            f"{name:20s} spark={sn} duck={dn} cols_match={scols == dcols} "
            f"hash_match={shash == dhash} (hash {shash})"
        )
        if not ok:
            failures += 1
            if scols != dcols:
                print(f"  cols spark={scols} duck={dcols}")
            sset, dset = set(srows), set(drows)
            for r in list(sset - dset)[:3]:
                print(f"  spark-only: {r[:200]}")
            for r in list(dset - sset)[:3]:
                print(f"  duck-only : {r[:200]}")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
