"""Batch `spark.read.format("txlog")` (VERDICT r10 #3) — reading an
ACID table from PLAIN Spark, no package import required.

The interop story so far was the spec (sources/TXLOG_FORMAT.md), an
independent script reader (scripts/txlog_reader.py), and the
streaming feed (txlog_stream.py). This closes the batch half: any
Spark session that registers this Python Data Source (one call, or a
cluster-wide ``spark.sql.dataSources`` package) reads a txlog table
by path with

    spark.read.format("txlog").option("path", p)
        [.option("versionAsOf", n) | .option("timestampAsOf", ts)]
        .load()

matching ``TxnTable.snapshot()`` row-for-row: time travel, column
mapping, schema evolution (null-fill + safe upcasts via the feed's
head-schema reconciliation, reconciled against the PINNED version's
schema), deletion vectors applied per file, and external files
(shallow clones) followed by absolute path.

Scale + pruning: planning is driver-side log metadata (KBs); each
live file is one input partition, so parallelism is file-granular
like a native scan. Predicate pushdown lands as FILE SKIPPING: Spark
4.1's Python Data Source ``pushFilters`` hands the reader its
comparison filters, which prune partitions against the log's footer
min/max stats — the same Iceberg-style skip ``TxnTable.scan()``
does — and every filter is returned "unsupported" so Spark still
applies it row-level (the stats cut I/O, never correctness).
Executors read parquet via Arrow with zero Python row loops; DV
anti-filtering is a vectorized ``is_in`` mask on the row index.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections.abc import Iterator
from typing import Any

from pyspark.sql import SparkSession
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from aws_payment_data_lake_spark.sources.txlog import TxnTable
from aws_payment_data_lake_spark.sources.txlog_stream import (
    reconcile_arrow,
)

SOURCE_NAME = "txlog"


class _SnapPart(InputPartition):
    def __init__(self, path: str, key: str, schema_json: str | None,
                 mapping: dict, dv_files: list[str],
                 bounds: dict | None = None) -> None:
        self.path = path              # absolute data file path
        self.key = key                # the file's LOG key (DV target)
        self.schema_json = schema_json
        self.mapping = mapping
        self.dv_files = dv_files      # absolute sidecar paths
        self.bounds = bounds or {}    # pushed bounds (PHYSICAL names)
        #                               for row-group-level skipping


class _Pinned:
    """Driver-side snapshot resolver (TxnTable's filesystem half; no
    SparkSession — runs inside the data-source planner)."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError(
                "format('txlog') requires .option('path', ...)")
        self.table = TxnTable(None, path)
        ver = options.get("versionasof", options.get("versionAsOf"))
        ts = options.get("timestampasof", options.get("timestampAsOf"))
        if ver is not None and ts is not None:
            raise ValueError("pass versionAsOf OR timestampAsOf, "
                             "not both")
        if ts is not None:
            try:
                epoch = float(ts)
            except ValueError:
                d = dt.datetime.fromisoformat(str(ts))
                if d.tzinfo is None:
                    d = d.replace(tzinfo=dt.timezone.utc)
                epoch = d.timestamp()
            ver = self.table.version_at(epoch)
        self.snap = self.table._replay(
            int(ver) if ver is not None else None)

    def schema(self) -> StructType:
        return self.snap.schema or StructType([])

    def parts(self, keep: set[str] | None = None,
              bounds: dict | None = None) -> list[_SnapPart]:
        snap = self.snap
        root = os.path.abspath(self.table.path)
        out = []
        for key in sorted(snap.live):
            if keep is not None and key not in keep:
                continue
            p = key if os.path.isabs(key) else os.path.join(root, key)
            dvs = [f if os.path.isabs(f) else os.path.join(root, f)
                   for f in snap.dvs.get(key, [])]
            out.append(_SnapPart(p, key, snap.schema_json,
                                 dict(snap.column_mapping), dvs,
                                 bounds=bounds))
        return out


def _mm_ok(lo, hi, preds) -> bool:
    """Can a [lo, hi] value range satisfy every pushed predicate?
    Type mismatches (e.g. a date literal vs JSON-string stats) keep
    the range — stats cut I/O only, Spark's re-applied filter is the
    correctness."""
    for op, val in preds:
        try:
            if ((op == "=" and not (lo <= val <= hi))
                    or (op == ">" and not (hi > val))
                    or (op == ">=" and not (hi >= val))
                    or (op == "<" and not (lo < val))
                    or (op == "<=" and not (lo <= val))
                    or (op == "in"
                        and not any(lo <= v <= hi for v in val))):
                return False
        except TypeError:
            continue
    return True


def _nulls_ok(null_count: int, rows: int, preds) -> bool:
    """Can a file/row-group with ``null_count`` nulls over ``rows``
    rows satisfy the null-shaped predicates? (Value predicates are
    _mm_ok's business.)"""
    for op, _ in preds:
        if op == "isnull" and null_count == 0:
            return False
        if op == "notnull" and null_count >= rows:
            return False
    return True


def _stats_keep(snap,
                bounds: dict[str, list[tuple]]) -> set[str]:
    """Files whose footer [min,max] can satisfy every pushed bound —
    TxnTable._overlaps generalized to a filter list. Files missing
    stats for a column are conservatively kept."""
    keep = set()
    split = {col: ([p for p in preds
                    if p[0] not in ("isnull", "notnull")], preds)
             for col, preds in bounds.items()}   # hoisted: once per
    for key, a in snap.live.items():             # call, not per file
        ok = True
        for col, (vals, preds) in split.items():
            mm = a.stats.get(col)
            if mm and mm[0] is not None and not _mm_ok(mm[0], mm[1],
                                                       vals):
                ok = False
                break
            nc = a.nulls.get(col)       # absent = unknown -> keep
            if nc is not None and not _nulls_ok(nc, a.rows, preds):
                ok = False
                break
        if ok:
            keep.add(key)
    return keep


def _rg_offsets_keep(pf, bounds: dict[str, list[tuple]]
                     ) -> list[tuple[int, int]]:
    """(row_group_index, global_row_offset) pairs whose parquet
    row-group statistics can satisfy every pushed bound — the second
    skip tier under the log's file-level footer cut (VERDICT r11 #6).
    Groups lacking stats for a bounded column are conservatively
    kept. Offsets are FILE-GLOBAL row positions, so deletion-vector
    masks stay correct when groups are skipped."""
    out: list[tuple[int, int]] = []
    md = pf.metadata
    name_to_idx = {md.row_group(0).column(j).path_in_schema: j
                   for j in range(md.num_columns)} if md.num_row_groups \
        else {}
    off = 0
    split = {col: ([p for p in preds
                    if p[0] not in ("isnull", "notnull")], preds)
             for col, preds in bounds.items()}
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        ok = True
        for col, (vals, preds) in split.items():
            j = name_to_idx.get(col)
            if j is None:
                continue
            st = rg.column(j).statistics
            if st is None:
                continue
            if (st.has_min_max
                    and not _mm_ok(st.min, st.max, vals)):
                ok = False
                break
            if (st.null_count is not None
                    and not _nulls_ok(int(st.null_count),
                                      rg.num_rows, preds)):
                ok = False
                break
        if ok:
            out.append((i, off))
        off += rg.num_rows
    return out


class _SnapshotReader(DataSourceReader):
    def __init__(self, options: dict,
                 pinned: _Pinned | None = None) -> None:
        self.options = options
        # reuse the planner's pinned snapshot when given: schema()
        # and reader() must see the SAME version, or a commit landing
        # between the two replays would skew the planned schema
        # against the scanned files (and an unpinned read would pay
        # two full log replays)
        self._pinned = pinned or _Pinned(options)
        self._bounds: dict[str, list[tuple]] = {}

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Record comparison filters for footer-stats FILE SKIPPING,
        then hand every filter back as unsupported — Spark re-applies
        them row-level, so the stats only ever cut I/O."""
        snap = self._pinned.snap
        ops = {EqualTo: "=", GreaterThan: ">",
               GreaterThanOrEqual: ">=", LessThan: "<",
               LessThanOrEqual: "<="}
        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr and len(attr) == 1:
                col = snap.phys(attr[0])   # stats keys are PHYSICAL
                # ACCUMULATE per column — a BETWEEN arrives as >= AND
                # <=, and keeping only the last bound would throw half
                # the file-skipping away
                if type(f) in ops:
                    self._bounds.setdefault(col, []).append(
                        (ops[type(f)], f.value))
                elif isinstance(f, In):
                    self._bounds.setdefault(col, []).append(
                        ("in", list(f.value)))
                elif isinstance(f, IsNull):
                    # v1.4 null-count stats: a file with zero nulls
                    # in col cannot satisfy IS NULL
                    self._bounds.setdefault(col, []).append(
                        ("isnull", None))
                elif isinstance(f, IsNotNull):
                    self._bounds.setdefault(col, []).append(
                        ("notnull", None))
            yield f                        # all re-applied by Spark

    def partitions(self) -> list[InputPartition]:
        keep = (_stats_keep(self._pinned.snap, self._bounds)
                if self._bounds else None)
        return (self._pinned.parts(keep, bounds=self._bounds or None)
                or [_SnapPart("", "", None, {}, [])])

    def read(self, partition: _SnapPart) -> Iterator:
        if not partition.path:
            return
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if partition.bounds:
            # second skip tier: inside a kept file, read only row
            # groups whose parquet stats can satisfy the bounds.
            # Offsets are file-global so DV positions stay aligned.
            pf = pq.ParquetFile(partition.path)
            kept = _rg_offsets_keep(pf, partition.bounds)
            if not kept:
                return
            if len(kept) == pf.metadata.num_row_groups:
                table = pf.read()     # footer already parsed — no
                offsets = [0]         # second open (common case)
            else:
                tables = [pf.read_row_group(i) for i, _ in kept]
                offsets = [off for _, off in kept]
                table = None            # handled group-wise below
            pf = None
        else:
            table = pq.read_table(partition.path)
            offsets = [0]
        if table is not None:
            tables = [table]
        if partition.dv_files:
            dead = set()
            for f in partition.dv_files:
                dv = pq.read_table(f, columns=["target", "pos"])
                mask = pc.equal(dv.column("target"),
                                pa.scalar(partition.key))
                dead.update(dv.filter(mask).column("pos").to_pylist())
            if dead:
                dead_arr = pa.array(sorted(dead), type=pa.int64())
                masked = []
                for t, off in zip(tables, offsets):
                    idx = pa.array(range(off, off + t.num_rows),
                                   type=pa.int64())
                    alive = pc.invert(pc.is_in(idx,
                                               value_set=dead_arr))
                    masked.append(t.filter(alive))
                tables = masked
        table = (tables[0] if len(tables) == 1
                 else pa.concat_tables(tables))
        table = reconcile_arrow(table, partition.schema_json,
                                partition.mapping)
        yield from table.to_batches()


class _Staged(WriterCommitMessage):
    """One task's staged files: [(rel, rows, bytes, stats)]."""

    def __init__(self, adds: list) -> None:
        self.adds = adds


class _SnapshotWriter(DataSourceArrowWriter):
    """Write side of ``format("txlog")`` — plain Spark WRITES an ACID
    table without the package:

        df.write.format("txlog").option("path", p)
          .mode("append" | "overwrite").save()

    Tasks stage ordinary parquet under ``data/<uuid>/`` (invisible
    until referenced — the format's property 3) and report footer
    stats in their commit messages; ``commit()`` publishes ONE log
    commit through ``TxnTable._try_publish`` — the
    ``commit.put_if_absent`` claim (``sources/commit.py``) every
    other writer uses — retrying appends on lost races (appends
    commute) and recomputing removes for overwrite (last-writer-
    wins). A failed job aborts by deleting the staged dirs — nothing
    was ever visible. Writing to an ABSENT path creates version 0
    with the frame's schema (Delta's save-to-new-path).

    Honesty gate: this client does NOT evaluate SQL expressions, so a
    table whose protocol demands write-side semantics — CHECK
    constraints, generated/identity/DEFAULT columns, appendOnly
    under overwrite, CDF image capture — REFUSES up front with a
    pointer to the package API, exactly what a third-party Delta
    writer must do when it cannot uphold a table feature. Column
    mapping IS upheld (files spell physical names)."""

    def __init__(self, options: dict, schema: StructType,
                 overwrite: bool) -> None:
        path = options.get("path")
        if not path:
            raise ValueError(
                "format('txlog') requires .option('path', ...)")
        self.path = os.path.abspath(path)
        self.schema_json = schema.json()
        self.overwrite = overwrite
        self.mapping: dict[str, str] = {}
        self._planned_dropped: list[str] | None = None
        # HONORED partitioning (VERDICT r11 #3): Spark's own
        # .partitionBy() is rejected at the DSv2 layer for Python data
        # sources (pinned in tests), so the spec travels as
        # .option("partitionBy", "a,b"). The writer records it in the
        # commit and sorts each task's output in-file on those
        # columns, so footer min/max (and row-group stats) stay tight
        # per file. It CANNOT repartition across tasks — range-cluster
        # upstream (df.repartitionByRange(...)) for directory-grade
        # pruning; that contract is spec'd, never silent.
        opt = options.get("partitionby", options.get("partitionBy"))
        self.partition_by: list[str] | None = (
            [c.strip() for c in str(opt).split(",") if c.strip()]
            if opt is not None else None)
        if self.partition_by is not None:
            names = {f.name for f in schema.fields}
            missing = [c for c in self.partition_by if c not in names]
            if missing:
                raise ValueError(
                    f"partitionBy column(s) {missing} not in the "
                    f"written schema {sorted(names)}")
        t = TxnTable(None, self.path)
        if t.exists():
            snap = t._replay()
            self._refuse_unsupported(snap)
            if snap.schema is not None:
                want = {f.name: f.dataType.simpleString()
                        for f in snap.schema.fields}
                got = {f.name: f.dataType.simpleString()
                       for f in schema.fields}
                if want != got and not overwrite:
                    raise ValueError(
                        f"schema mismatch appending to {self.path}: "
                        f"table has {sorted(want.items())}, frame "
                        f"has {sorted(got.items())} — evolve through "
                        "the package API (TxnTable.append "
                        "schema_mode='merge')")
            # APPEND writes under the table's physical names; an
            # OVERWRITE replaces the schema AND resets the mapping in
            # its commit, so its files must spell the frame's LOGICAL
            # names — applying the old mapping here would make every
            # renamed column silently read NULL afterwards
            if not overwrite:
                self.mapping = dict(snap.column_mapping)
                self._planned_dropped = list(snap.dropped_physical)
                if (self.partition_by is not None
                        and self.partition_by != snap.partition_by):
                    raise ValueError(
                        f"partitionBy {self.partition_by} does not "
                        f"match the table's {snap.partition_by}; "
                        "appends inherit the table layout (omit the "
                        "option) or overwrite to re-cluster")
                # appends HONOR the table's declared clustering:
                # in-file sort keeps new files' stats as tight as the
                # package writer's
                if self.partition_by is None:
                    self.partition_by = list(snap.partition_by) or None
            elif self.partition_by is None:
                # overwrite keeps the declared layout unless re-spec'd
                # (the package writer's contract) — and sorts for it
                self.partition_by = list(snap.partition_by) or None

    def _refuse_unsupported(self, snap) -> None:
        demands = []
        if snap.constraints:
            demands.append("CHECK constraints")
        if snap.generated:
            demands.append("generated columns")
        if snap.identity:
            demands.append("identity columns")
        if snap.defaults:
            demands.append("column DEFAULTs")
        if (snap.properties.get("txlog.enableChangeDataFeed", "")
                .lower() == "true"):
            demands.append("change-data-feed capture")
        if (self.overwrite
                and snap.properties.get("txlog.appendOnly", "")
                .lower() == "true"):
            demands.append("appendOnly (blocks overwrite)")
        if demands:
            raise ValueError(
                f"format('txlog') writer cannot uphold {demands} on "
                f"{self.path}; write through the package API "
                "(TxnTable / LakehouseCatalog.sql), which enforces "
                "them")

    # ----------------------------------------------------- executors
    def write(self, iterator) -> _Staged:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from aws_payment_data_lake_spark.sources.txlog import (
            _DATA_DIR,
            _footer_stats,
        )
        wid = uuid.uuid4().hex
        out_dir = os.path.join(self.path, _DATA_DIR, wid)
        writer = None
        local = os.path.join(out_dir, "part-0.parquet")
        n = 0
        if self.partition_by:
            # honored clustering: sort the WHOLE task output in-file
            # on the partition columns (logical names — the rename to
            # physical happens after, like the package's _stage), so
            # footer and row-group stats stay tight. Buffers one task
            # partition — the same working set Spark's own sort-based
            # writers hold.
            tables = [pa.Table.from_batches([b]) for b in iterator]
            if not tables:
                return _Staged([])
            t = pa.concat_tables(tables)
            if t.num_rows == 0:
                return _Staged([])
            t = t.sort_by([(c, "ascending")
                           for c in self.partition_by])
            if self.mapping:
                t = t.rename_columns(
                    [self.mapping.get(c, c) for c in t.column_names])
            os.makedirs(out_dir, exist_ok=True)
            pq.write_table(t, local)
            n = t.num_rows
        else:
            for batch in iterator:
                t = pa.Table.from_batches([batch])
                if self.mapping:        # files spell PHYSICAL names
                    t = t.rename_columns(
                        [self.mapping.get(c, c)
                         for c in t.column_names])
                if writer is None:
                    os.makedirs(out_dir, exist_ok=True)
                    writer = pq.ParquetWriter(local, t.schema)
                writer.write_table(t)
                n += t.num_rows
            if writer is None:
                return _Staged([])      # empty partition: nothing staged
            writer.close()
        rows, stats, nulls = _footer_stats(local)
        rel = os.path.join(_DATA_DIR, wid, "part-0.parquet")
        return _Staged([(rel, rows, os.path.getsize(local), stats,
                         nulls)])

    # -------------------------------------------------------- driver
    def commit(self, messages) -> None:
        import time as _time

        from aws_payment_data_lake_spark.sources.txlog import (
            AddFile,
            ConcurrentWriteError,
        )
        adds = [AddFile(rel, rows, nbytes, stats, nulls)
                for m in messages if m is not None
                for rel, rows, nbytes, stats, nulls in m.adds]
        t = TxnTable(None, self.path)
        if not t.exists():
            commit = {"op": "create", "ts": _time.time(),
                      "schema_json": self.schema_json,
                      "partition_by": self.partition_by or [],
                      "add": [a.to_json() for a in adds],
                      "remove": []}
            if not t._try_publish(0, commit):
                raise ConcurrentWriteError(
                    f"concurrent create at {self.path}")
            return
        while True:
            snap = t._replay()
            self._refuse_unsupported(snap)   # may have changed
            if not self.overwrite and (
                    dict(snap.column_mapping) != self.mapping
                    or (self._planned_dropped is not None
                        and list(snap.dropped_physical)
                        != self._planned_dropped)):
                # executor files already spell the PLANNED physical
                # names; publishing under a changed mapping (rename,
                # or DROP + re-ADD of the same logical name) would
                # write data into a retired physical slot that reads
                # silently null afterwards (ADVICE r11 #4)
                raise ConcurrentWriteError(
                    f"column mapping of {self.path} changed between "
                    "write planning and commit (concurrent RENAME/"
                    "DROP COLUMN); re-run the write")
            if not self.overwrite and snap.schema is not None:
                # a write planned while the table was ABSENT skipped
                # the plan-time schema check; if another writer's
                # create won the race with a different schema, our
                # files must not publish under it (they would silently
                # null-fill on read)
                want = {f.name: f.dataType.simpleString()
                        for f in snap.schema.fields}
                got = {f.name: f.dataType.simpleString()
                       for f in StructType.fromJson(
                           json.loads(self.schema_json)).fields}
                if want != got:
                    raise ConcurrentWriteError(
                        f"schema of {self.path} changed between write "
                        f"planning and commit (table "
                        f"{sorted(want.items())}, frame "
                        f"{sorted(got.items())}); re-run the write")
            commit = {"op": ("overwrite" if self.overwrite
                             else "append"),
                      "ts": _time.time(),
                      "add": [a.to_json() for a in adds],
                      "remove": (sorted(snap.live) if self.overwrite
                                 else [])}
            if self.overwrite:
                commit["schema_json"] = self.schema_json
                commit["column_mapping"] = {}
                commit["dropped_physical"] = []
                commit["partition_by"] = self.partition_by or []
            # a won publish checkpoints inside _try_publish, so a
            # plain-Spark-only pipeline's replay cost stays bounded
            if t._try_publish(snap.version + 1, commit):
                return                      # appends commute; LWW
                                            # overwrite recomputes

    def abort(self, messages) -> None:
        import shutil

        for m in messages:
            for rel, *_ in (m.adds if m is not None else []):
                shutil.rmtree(
                    os.path.dirname(os.path.join(self.path, rel)),
                    ignore_errors=True)


class TxlogDataSource(DataSource):
    """`format("txlog")`: batch snapshot reads with time travel, and
    batch writes (append/overwrite). Read options: path (required),
    versionAsOf | timestampAsOf (unix seconds or ISO timestamp)."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def _pin(self) -> _Pinned:
        if getattr(self, "_pinned", None) is None:
            self._pinned = _Pinned(self.options)
        return self._pinned

    def schema(self) -> StructType:
        return self._pin().schema()

    def reader(self, schema) -> DataSourceReader:
        return _SnapshotReader(self.options, self._pin())

    def writer(self, schema: StructType,
               overwrite: bool) -> _SnapshotWriter:
        return _SnapshotWriter(self.options, schema, overwrite)


def register_txlog_source(spark: SparkSession) -> None:
    """Idempotent per-session registration. Python-data-source filter
    pushdown is opt-in (Spark 4.1) and a reader implementing
    pushFilters REFUSES to plan while it is off — so registration
    turns it on (runtime conf, session-scoped). A consumer
    registering the class by hand with the conf off gets Spark's own
    instructive DATA_SOURCE_PUSHDOWN_DISABLED error."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxlogDataSource)


def read_txlog(spark: SparkSession, path: str,
               version: int | None = None,
               timestamp: Any | None = None):
    register_txlog_source(spark)
    r = spark.read.format(SOURCE_NAME).option("path", path)
    if version is not None:
        r = r.option("versionAsOf", str(version))
    if timestamp is not None:
        r = r.option("timestampAsOf", str(timestamp))
    return r.load()
