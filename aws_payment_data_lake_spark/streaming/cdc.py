"""CDC apply: a change-event stream folded into the ACID table — the
Kafka-CDC -> Delta-MERGE loop (Armbrust et al., VLDB 2020 §4.4 usage
pattern) built entirely from the engine's own pieces: the
Kafka-semantics queue source (sources/queue_source.py), from_json
deserialize, a per-key last-event reduction, and the table format's
MERGE with a WHEN-MATCHED-DELETE clause (sources/txlog.py).

Event contract: the queue VALUE is a JSON object holding the table's
columns plus `_op` — "u" (upsert) or "d" (delete). Keyed producers put
every event for a key on one queue partition (the producer's stable
key hash), so per-key event ORDER is the partition's offset order —
the same ordering guarantee a real Kafka CDC topic gives.

Per micro-batch:
  0. pin the batch once: an eager localCheckpoint of the reduced
     frame (steps 1-2) is the batch's only source read, and the
     emptiness guard runs on the pin. An early-stopping action
     (isEmpty) on a Python data source abandons its worker
     mid-stream, so the daemon discards it and the next read forks a
     fresh one — a guard on the raw batch would pay the source twice
     plus a worker start-up;
  1. deserialize value -> columns + _op (built-ins, JVM-side);
  2. keep the LAST event per key by (offset) — one window over the
     batch, so a key upserted then deleted inside one batch nets to
     the delete, whatever order the executor read the partitions;
  3. ONE merge: last events with _op='d' delete their match (and
     insert nothing when unmatched); the rest upsert. File-granular
     copy-on-write, no driver-side key lists.

Replay: merge is idempotent (same source rows -> same final state),
so Structured Streaming's at-least-once batch replay after a crash
re-converges without a txn marker; cross-batch ordering is the
checkpoint's (batches apply in order)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from aws_payment_data_lake_spark.sources.queue_source import (
    parse_json_values,
)
from aws_payment_data_lake_spark.sources.txlog import TxnTable

OP_COL = "_op"


def last_event_per_key(parsed: DataFrame,
                       key_cols: list[str]) -> DataFrame:
    """The within-batch reduction: one row per key — the event with
    the highest queue offset (per-key order IS offset order, because
    keyed routing pins a key to one partition)."""
    w = (Window.partitionBy(*key_cols)
         .orderBy(F.col("offset").desc(), F.col("partition")))
    return (parsed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def cdc_foreach_batch(table: TxnTable, key_cols: list[str],
                      value_ddl: str, schema_mode: str = "strict"):
    """``foreachBatch`` sink applying CDC events to ``table``.

    ``value_ddl`` describes the table columns inside the JSON value
    (the `_op` field is added automatically). Usage::

        stream = stream_queue(spark, qdir, "cdc_topic")
        q = (stream.writeStream
             .foreachBatch(cdc_foreach_batch(t, ["id"], "id bigint, v double"))
             .option("checkpointLocation", ckpt).start())

    ``schema_mode='merge'`` (VERDICT r9 #1): source-schema drift no
    longer needs a manual ``ADD COLUMNS`` — redeploy the sink with a
    wider ``value_ddl`` and the first merge carrying the new column
    auto-widens the table (old rows read NULL); a ``value_ddl``
    narrower than the table keeps the target's values for the absent
    columns. The ``_op`` flag rides as a merge ``helper_col`` so
    autoMerge never evolves the flag itself into the table."""
    full_ddl = f"{value_ddl}, {OP_COL} string"
    table_cols: list[str] | None = None

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal table_cols
        parsed = parse_json_values(batch_df, full_ddl)
        last = last_event_per_key(parsed, key_cols)
        vcols = [c for c in last.columns
                 if c not in ("topic", "partition", "offset",
                              "timestamp", OP_COL)]
        if schema_mode == "merge":
            # evolution: send every parsed value column; merge widens
            # the table with the new ones and keep-targets the absent
            table_cols = vcols
        elif table_cols is None:
            schema = table._replay().schema
            table_cols = [f.name for f in schema.fields] if schema \
                else vcols
        # the batch's one source read; the guard below is JVM-only
        src = last.select(*table_cols, OP_COL).localCheckpoint(eager=True)
        if src.isEmpty():
            return          # don't publish an empty merge per trigger
        # one merge applies the whole batch: _op='d' rows delete,
        # everything else upserts (the extra _op column never lands —
        # merge projects the table schema before staging). merge is
        # strictly serialized, so a concurrent writer (an append, a
        # compaction) aborts it — retry a bounded number of times
        # against the new head rather than failing the stream; the
        # merge re-reads the table each attempt, so a retry is correct
        # by construction.
        from aws_payment_data_lake_spark.sources.txlog import (
            ConcurrentWriteError,
        )

        for attempt in range(5):
            try:
                table.merge(src, on=key_cols,
                            delete_when=F.col(OP_COL) == "d",
                            schema_mode=schema_mode,
                            helper_cols=(OP_COL,))
                return
            except ConcurrentWriteError:
                if attempt == 4:
                    raise
    return _apply
