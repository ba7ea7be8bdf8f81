"""analyst_queries: one op is one read-only statement.

The client runs a seeded permutation of a fixed mix, pass after pass, and
the timed phase ends only after a whole pass (after two when traced):
registered queries (``queries`` registry, over seeded TPC-H-shaped
tables, including a kNN query that runs ``operators.similarity``) and
``sources.txsql.LakehouseCatalog.sql`` statements over silver and gold
txlog tables that set-up builds with the medallion plans.
"""

from __future__ import annotations

import os
import random
import shutil

import duckdb

from lakebench import datagen
from lakebench.harness import (Workload, instrument_module, txlog_commits,
                               txlog_stats)

REGISTERED = ("q1_pricing_summary", "q3_shipping_priority",
              "q5_local_supplier_volume", "window_event_analytics",
              "topk_orders_per_customer", "percentile_lineitem_price",
              "sql_daily_totals", "knn_brute_force")
TXSQL = {
    "txsql_silver_daily": (
        "SELECT txn_date, status_curated, count(*) AS n_txns, "
        "CAST(sum(amount) * 100 AS BIGINT) AS gross_cents "
        "FROM silver GROUP BY txn_date, status_curated"),
    "txsql_silver_merchants": (
        "SELECT merchant_id, count(*) AS n_txns, "
        "count(DISTINCT user_id) AS n_users, "
        "CAST(max(amount) * 100 AS BIGINT) AS max_cents "
        "FROM silver WHERE currency = 'USD' GROUP BY merchant_id"),
    "txsql_gold_daily": (
        "SELECT txn_date, status_curated, n_txns, "
        "CAST(gross_amount * 100 AS BIGINT) AS gross_cents "
        "FROM gold_daily WHERE n_txns > 0"),
}


class AnalystQueries(Workload):
    name = "analyst_queries"
    unit = "statements"
    rate_name = "queries_per_s"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.sf = 0.002 if ctx.small else 0.1
        self.days = 2 if ctx.small else 3
        self.rows_per_day = 500 if ctx.small else 10_000
        self.data = os.path.join(ctx.work, "tables")
        self.lake = os.path.join(ctx.work, "lake")
        self.rng = random.Random(ctx.seed)
        self.order: list[str] = []
        self.results: dict[int, tuple[str, object]] = {}
        self.oracle_cache: dict[str, object] = {}
        self.ops = 0
        self.passes = 0

    def instrument(self) -> None:
        from aws_payment_data_lake_spark.operators import similarity
        from aws_payment_data_lake_spark.plans import bronze, generator, gold, silver
        from aws_payment_data_lake_spark.sources import txlog, txsql

        for mod, prefix in ((generator, "plans.generator"),
                            (bronze, "plans.bronze"), (silver, "plans.silver"),
                            (gold, "plans.gold"),
                            (similarity, "operators.similarity")):
            instrument_module(self.tracer, mod, prefix)
        self.tracer.instrument(txlog.TxnTable, ["create", "snapshot"],
                               "sources.txlog")
        self.tracer.instrument(txsql.LakehouseCatalog, ["sql", "register"],
                               "sources.txsql")

    def setup(self) -> None:
        from aws_payment_data_lake_spark import queries as Q
        from aws_payment_data_lake_spark.plans import bronze as B
        from aws_payment_data_lake_spark.plans import generator as G
        from aws_payment_data_lake_spark.plans import gold as GD
        from aws_payment_data_lake_spark.plans import silver as S
        from aws_payment_data_lake_spark.sources.txlog import TxnTable
        from aws_payment_data_lake_spark.sources.txsql import LakehouseCatalog

        shutil.rmtree(self.data, ignore_errors=True)
        shutil.rmtree(self.lake, ignore_errors=True)
        datagen.write_tables(self.data, self.sf, self.ctx.seed)
        raw = G.generate_transactions(
            self.spark, days=self.days, rows_per_day=self.rows_per_day,
            invalid_rate=0.02, duplicate_rate=0.02, seed=self.ctx.seed)
        bronze = B.run_bronze(raw.drop("ingest_date"))
        silver = TxnTable(self.spark, os.path.join(self.lake, "silver"))
        # the plans above are lazy: their work runs in these writes
        with self.tracer.span("plans.silver.write"):
            silver.create(S.run_silver(bronze), partition_by=["txn_date"])
        gold = TxnTable(self.spark, os.path.join(self.lake, "gold_daily"))
        with self.tracer.span("plans.gold.write"):
            gold.create(GD.daily_totals(silver.snapshot()))
        self.catalog = LakehouseCatalog(self.spark)
        self.catalog.register("silver", silver.path)
        self.catalog.register("gold_daily", gold.path)
        self.specs = Q.all_queries()
        self.mix = list(REGISTERED) + list(TXSQL)
        # warm-up: one untimed pass (a second one makes the timed pass
        # ~3% faster at the median but costs ~11 s of set-up per run)
        for name in self.mix:
            self._run(name)

    def _run(self, name: str):
        span = self.tracer.span
        if name in TXSQL:
            df = self.catalog.sql(TXSQL[name])
            with span("sources.txsql.exec"):
                return df.toPandas()
        with span("queries.build"):
            df = self.specs[name].fn(self.spark, self.data)
        with span(f"queries.{name}.exec"):
            return df.toPandas()

    def mid_pass(self) -> bool:
        # a traced run needs two passes to compare like with like
        return bool(self.order) or (self.ctx.trace and self.passes < 2)

    def _new_pass(self) -> None:
        self.order = self.mix[:]
        self.rng.shuffle(self.order)
        self.passes += 1

    def traced_op(self, i: int) -> bool:
        # over two passes every statement runs once traced and once not,
        # half of them traced in the warmer second pass
        if not self.order:
            self._new_pass()
        return (self.mix.index(self.order[-1]) + self.passes) % 2 == 0

    def op(self, i: int) -> int:
        if not self.order:
            self._new_pass()
        name = self.label = self.order.pop()
        self.results[i] = (name, self._run(name))
        self.ops += 1
        return 1

    # ------------------------------------------------------------ checks
    def _duck(self):
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")
        for t in ("silver", "gold_daily"):
            files = [f.replace("file://", "").replace("file:", "") for f in
                     self.catalog.sql(f"SELECT * FROM {t}").inputFiles()]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"{files!r}, hive_partitioning=true)")
        return con

    def _oracle(self, name: str):
        if name not in self.oracle_cache:
            con = self._duck()
            sql = TXSQL.get(name) or self.specs[name].oracle
            self.oracle_cache[name] = con.execute(sql).df()
            con.close()
        return self.oracle_cache[name]

    def check_op(self, i: int) -> list[str]:
        from aws_payment_data_lake_spark import oracle

        name, got = self.results.pop(i)
        want = self._oracle(name)
        diff = oracle.diff_results(*oracle.pandas_rows(got),
                                   *oracle.pandas_rows(want))
        return [f"{name}: {d}" for d in diff]

    def layer_metrics(self, t0: float, t1: float) -> dict[str, float]:
        m = txlog_stats([os.path.join(self.lake, t) for t in
                         ("silver", "gold_daily")], t0, t1, self.ops)
        for t, name in (("silver", "plans.silver"), ("gold_daily", "plans.gold")):
            first = txlog_commits(os.path.join(self.lake, t))[0]
            m[f"setup.{name}.rows"] = float(
                sum(int(a.get("rows", 0)) for a in first.get("add") or []))
        return m
