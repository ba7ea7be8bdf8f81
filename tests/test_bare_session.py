"""Registered queries on a BARE session.

``__spark_entry__`` callers hand queries a plain ``SparkSession``
(local master, UTC, nothing else), where
``spark.sql.execution.arrow.pyspark.enabled`` is off. Queries that
build literal frames through ``localframe.local_frame`` must still
match their oracles there: the pandas conversion falls back to
Spark's row path instead of raising.
Runs in a fresh interpreter because only a new application starts
from Spark's defaults."""

from __future__ import annotations

import json
import subprocess
import sys

from tests.conftest import REPO, SF_DIR

_QUERIES = ("range_join_price_bands", "dedup_connected_components")

_CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
import duckdb
from pyspark.sql import SparkSession
from aws_payment_data_lake_spark.oracle import compare_spark_duck
from aws_payment_data_lake_spark.queries import all_queries
from aws_payment_data_lake_spark.sources import TESTDATA_TABLES

sf_dir, names = sys.argv[2], sys.argv[3].split(",")
spark = (SparkSession.builder.appName("bare-session").master("local[2]")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled",
                      "false").lower() == "false"
con = duckdb.connect()
for t in TESTDATA_TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
specs = all_queries()
out = {}
for n in names:
    try:
        out[n] = compare_spark_duck(specs[n].fn(spark, sf_dir), con,
                                    specs[n].oracle)
    except Exception as e:  # noqa: BLE001
        out[n] = [f"{type(e).__name__}: {str(e)[:300]}"]
print("RESULT " + json.dumps(out))
spark.stop()
"""


def test_local_frame_queries_match_oracle_without_arrow():
    r = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO, SF_DIR, ",".join(_QUERIES)],
        capture_output=True, text=True, timeout=600)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, f"child failed (rc={r.returncode}): {r.stderr[-3000:]}"
    result = json.loads(lines[-1][len("RESULT "):])
    assert result == {n: [] for n in _QUERIES}
