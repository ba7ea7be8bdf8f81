"""cdc_stream: one op publishes a seeded batch of keyed change events and
waits until the table shows it.

A long-running ``streaming.cdc.cdc_foreach_batch`` query reads the
Kafka-semantics queue (``sources.queue_source``) and merges each
micro-batch into a txlog table of payments. An op produces one batch,
drains it with ``processAllAvailable`` and ends when a fresh ``TxnTable``
reader sees the new version. Keys are Zipf-skewed over the table, a
tenth of the events are deletes, and deleted keys may come back.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

from lakebench.harness import Workload, dir_bytes, txlog_stats

DDL = ("payment_id bigint, merchant_id string, amount_cents bigint, "
       "status string, seq bigint")
STATUSES = ("AUTHORIZED", "CAPTURED", "REFUNDED", "DECLINED")
TOPIC = "payments_cdc"


def base_row(pid: int, seed: int) -> tuple:
    """The table's initial row for ``pid`` (the same formula as the
    Spark expression in ``_base_frame``)."""
    return (pid, f"m_{(pid * 31 + seed) % 300:03d}",
            (pid * 7919 + seed) % 100_000, STATUSES[(pid + seed) % 4], 0)


class CdcStream(Workload):
    name = "cdc_stream"
    unit = "events"
    rate_name = "events_per_s"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_keys = 2_000 if ctx.small else 200_000
        self.batch = 50 if ctx.small else 2_000
        self.warmup = 1 if ctx.small else 4
        self.lake = os.path.join(ctx.work, "lake")
        self.table_dir = os.path.join(self.lake, "payments")
        self.queue = os.path.join(ctx.work, "queue")
        self.rng = np.random.default_rng(ctx.seed)
        self.events: list[dict] = []
        self.seq = 0
        self.query = None
        self.version = -1
        self.value_bytes = 0     # user input of the timed ops
        self.lake_bytes = 0      # lake size when the timed phase starts
        self.ops = 0

    def instrument(self) -> None:
        from aws_payment_data_lake_spark.sources import queue_source, txlog

        self.tracer.instrument(queue_source, ["produce"], "sources.queue_source")
        self.tracer.instrument(txlog.TxnTable, ["create", "merge", "snapshot",
                                                "latest_version"],
                               "sources.txlog")

    def _base_frame(self):
        import pyspark.sql.functions as F

        seed = self.ctx.seed
        pid = F.col("id")
        status = F.element_at(F.array(*[F.lit(s) for s in STATUSES]),
                              ((pid + seed) % 4 + 1).cast("int"))
        return (self.spark.range(self.n_keys).select(
            pid.alias("payment_id"),
            F.format_string("m_%03d", (pid * 31 + seed) % 300).alias("merchant_id"),
            ((pid * 7919 + seed) % 100_000).alias("amount_cents"),
            status.alias("status"), F.lit(0).cast("bigint").alias("seq"))
            .repartitionByRange(32, "payment_id"))

    def setup(self) -> None:
        from aws_payment_data_lake_spark.sources.queue_source import stream_queue
        from aws_payment_data_lake_spark.sources.txlog import TxnTable
        from aws_payment_data_lake_spark.streaming.cdc import cdc_foreach_batch

        shutil.rmtree(self.lake, ignore_errors=True)
        shutil.rmtree(self.queue, ignore_errors=True)
        self.table = TxnTable(self.spark, self.table_dir)
        self.table.create(self._base_frame())
        self.version = self.table.latest_version()
        apply = cdc_foreach_batch(self.table, ["payment_id"], DDL)
        if self.tracer.enabled:
            apply = self.tracer.wrap("streaming.cdc.apply", apply)
        self.query = (stream_queue(self.spark, self.queue, TOPIC)
                      .writeStream.foreachBatch(apply)
                      .option("checkpointLocation",
                              os.path.join(self.lake, "_checkpoint"))
                      .start())
        for _ in range(self.warmup):
            self._publish_and_drain()
        self.lake_bytes = dir_bytes(self.lake)

    def _zipf_keys(self, n: int) -> np.ndarray:
        """``n`` Zipf(1.2) ranks over the table's keys; draws beyond the
        last key are redrawn, so the tail does not pile onto one key."""
        keys = self.rng.zipf(1.2, n) - 1
        out = keys[keys < self.n_keys]
        while len(out) < n:
            more = self.rng.zipf(1.2, n) - 1
            out = np.concatenate([out, more[more < self.n_keys]])
        return out[:n]

    def _events(self) -> list[dict]:
        keys = self._zipf_keys(self.batch)
        deletes = self.rng.random(self.batch) < 0.1
        amounts = self.rng.integers(0, 100_000, self.batch)
        statuses = self.rng.integers(0, 4, self.batch)
        out = []
        for k, d, a, s in zip(keys.tolist(), deletes.tolist(),
                              amounts.tolist(), statuses.tolist()):
            self.seq += 1
            ev = {"payment_id": k, "merchant_id": f"m_{k % 300:03d}",
                  "amount_cents": a, "status": STATUSES[s], "seq": self.seq,
                  "_op": "d" if d else "u"}
            out.append(ev)
        return out

    def _publish_and_drain(self) -> int:
        from aws_payment_data_lake_spark.sources.queue_source import produce
        from aws_payment_data_lake_spark.sources.txlog import TxnTable

        events = self._events()
        records = [{"key": str(e["payment_id"]), "value": json.dumps(e)}
                   for e in events]
        self.events.extend(events)
        # one partition: a batch is one immutable segment, so it lands in
        # exactly one micro-batch
        produce(self.queue, TOPIC, records, num_partitions=1)
        with self.tracer.span("streaming.drain"):
            self.query.processAllAvailable()
        exc = self.query.exception()
        if exc is not None:
            raise RuntimeError(f"stream failed: {exc}")
        v = TxnTable(self.spark, self.table_dir).latest_version()
        if v <= self.version:
            raise RuntimeError(f"table version {v} did not advance past "
                               f"{self.version}")
        self.version = v
        self._last_value_bytes = sum(len(r["value"]) for r in records)
        return len(events)

    def op(self, i: int) -> int:
        n = self._publish_and_drain()
        self.value_bytes += self._last_value_bytes
        self.ops += 1
        return n

    def check_final(self) -> list[str]:
        want = {pid: base_row(pid, self.ctx.seed) for pid in range(self.n_keys)}
        for e in self.events:
            if e["_op"] == "d":
                want.pop(e["payment_id"], None)
            else:
                want[e["payment_id"]] = (e["payment_id"], e["merchant_id"],
                                         e["amount_cents"], e["status"], e["seq"])
        got = self.table.snapshot().toPandas()
        got_rows = {r[0]: tuple(r) for r in got[
            ["payment_id", "merchant_id", "amount_cents", "status", "seq"]
        ].itertuples(index=False, name=None)}
        bad = []
        if len(got) != len(got_rows):
            bad.append(f"{len(got) - len(got_rows)} duplicate payment_id rows")
        if got_rows != want:
            diff = [k for k in set(want) | set(got_rows)
                    if want.get(k) != got_rows.get(k)]
            bad.append(f"table differs from the event fold on {len(diff)} "
                       f"keys (e.g. {sorted(diff)[:3]})")
        if self.value_bytes:
            self.extra["write_amp"] = ((dir_bytes(self.lake) - self.lake_bytes)
                                       / self.value_bytes)
        return bad

    def layer_metrics(self, t0: float, t1: float) -> dict[str, float]:
        m = txlog_stats([self.table_dir], t0, t1, self.ops)
        segs = sum(len(fs) for _, _, fs in os.walk(self.queue))
        m["sources.queue_source.events"] = len(self.events) / max(
            self.ops + self.warmup, 1)
        m["sources.queue_source.segments"] = float(segs)
        prog = self.query.recentProgress if self.query else []
        for key in ("latestOffset", "getBatch", "queryPlanning", "walCommit",
                    "addBatch"):
            vals = [p["durationMs"].get(key, 0) for p in prog
                    if p.get("numInputRows", 0) > 0 and "durationMs" in p]
            m[f"streaming.progress.{key}_ms"] = (
                float(np.median(vals)) if vals else 0.0)
        return m

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
