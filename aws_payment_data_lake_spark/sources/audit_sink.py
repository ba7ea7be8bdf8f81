"""Custom Python Data Source SINK with a real commit protocol
(write/commit/abort), plus the manifest-trusting reader that closes the
exactly-once loop.

The writer half of the Python Data Source API (SPARK-44076) is the
part that demonstrates Spark's two-phase commit: every task stages its
output under a write-scoped staging directory and returns a
WriterCommitMessage (file, row count, content digest); the DRIVER then
calls commit() once with all messages — only then does a `_MANIFEST
.json` appear, naming exactly the committed files — or abort(), which
removes the staging directory wholesale. Readers trust ONLY
manifest-listed files, so:

  * a failed/aborted write leaves no visible rows (staging is invisible
    to the reader and deleted on abort);
  * a task retried by Spark stages twice but is committed once (the
    commit message names the one surviving attempt's file);
  * the manifest lands via ``atomic_replace`` (``sources/commit.py``:
    fsync'd temp file + atomic rename), the same commit-marker posture
    as sources/store.py — crash before rename = nothing committed,
    repeated work, never a partial read.

`overwrite` replaces the manifest (old data files become unreferenced
and are removed best-effort AFTER the new manifest is live); append
mode unions the old manifest's file list with the new files.

Format: JSON-lines data files (human-auditable — this sink's use case
is audit/erasure logs, not bulk data; the parquet zones stay the bulk
path), schema recorded in the manifest as DDL, per-file md5-sum
digests so an auditor can verify file integrity offline. The digest
combine is an order-independent sum mod 2^64 — task order never
changes the recorded corpus digest.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from collections.abc import Iterator

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from aws_payment_data_lake_spark.sources.commit import atomic_replace

SINK_NAME = "payments_audit"
_MANIFEST = "_MANIFEST.json"
_DIGEST_MOD = 2 ** 64


def _row_digest(line: str) -> int:
    return int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "big")


class _AuditCommit(WriterCommitMessage):
    def __init__(self, filename: str, n_rows: int, digest: int) -> None:
        self.filename = filename
        self.n_rows = n_rows
        self.digest = digest


class _AuditWriter(DataSourceWriter):
    def __init__(self, options: dict, schema: StructType,
                 overwrite: bool) -> None:
        self.path = options["path"]
        self.schema_ddl = schema.simpleString()
        self.cols = [f.name for f in schema.fields]
        self.overwrite = overwrite
        self.write_id = uuid.uuid4().hex
        # staging is a FIXED dot-dir (reader-invisible), not a
        # write-scoped one: the streaming path instantiates the writer
        # separately for the executor side (pickled, stages files) and
        # the driver side (commits) — a per-instance staging name made
        # the driver look in a directory no task wrote to. Filenames
        # stay globally unique (instance write_id + per-task uuid), and
        # the single-writer-per-path contract (module docstring) is
        # what makes the shared dir safe.
        self.staging = os.path.join(self.path, ".staging")

    # -- executor side ----------------------------------------------------
    def write(self, rows: Iterator) -> _AuditCommit:
        os.makedirs(self.staging, exist_ok=True)
        name = f"part-{self.write_id}-{uuid.uuid4().hex}.jsonl"
        n, digest = 0, 0
        tmp = os.path.join(self.staging, name)
        with open(tmp, "w") as fh:
            for row in rows:
                d = row.asDict()
                line = json.dumps({c: d[c] for c in self.cols},
                                  sort_keys=True, default=str)
                fh.write(line + "\n")
                n += 1
                digest = (digest + _row_digest(line)) % _DIGEST_MOD
        return _AuditCommit(name, n, digest)

    # -- driver side ------------------------------------------------------
    def commit(self, messages) -> None:
        files, total, digest = [], 0, 0
        for m in messages:
            if m is None:
                continue
            os.replace(os.path.join(self.staging, m.filename),
                       os.path.join(self.path, m.filename))
            files.append({"file": m.filename, "n_rows": m.n_rows,
                          "digest": m.digest})
            total += m.n_rows
            digest = (digest + m.digest) % _DIGEST_MOD
        old_files: list[dict] = []
        mpath = os.path.join(self.path, _MANIFEST)
        try:
            with open(mpath) as fh:
                old = json.load(fh)
            old_files = old.get("files", [])
        except (OSError, json.JSONDecodeError):
            old = None
        if not self.overwrite and old is not None:
            files = old_files + files
            total += old.get("n_rows", 0)
            digest = (digest + old.get("digest", 0)) % _DIGEST_MOD
        atomic_replace(mpath, json.dumps(  # the commit point
            {"schema": self.schema_ddl, "files": files,
             "n_rows": total, "digest": digest}).encode())
        # sweep the staging dir: our files were just moved out; any
        # leftovers are strays from earlier ABORTED writes (abort races
        # still-running tasks, which can re-create staged files after
        # the driver's cleanup). Strays are invisible to readers
        # (manifest-trusting), so the next successful commit is the
        # safe point to collect them — no other write can be live here
        # (Spark serializes writes to one path per query; concurrent
        # apps on one audit zone are out of contract, the same
        # single-writer posture as sources/store.py).
        shutil.rmtree(self.staging, ignore_errors=True)
        if self.overwrite and old is not None:
            kept = {f["file"] for f in files}
            for f in old_files:  # unreference-then-delete, best effort
                if f["file"] not in kept:
                    try:
                        os.remove(os.path.join(self.path, f["file"]))
                    except OSError:
                        pass

    def abort(self, messages) -> None:
        shutil.rmtree(self.staging, ignore_errors=True)


class _AuditReadPartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class _AuditReader(DataSourceReader):
    """Reads ONLY manifest-listed files — staged/orphaned files are
    invisible, which is what makes the sink exactly-once.

    Option ``fromBatch=<k>``: restrict to files committed by streaming
    batch id >= k — a minimal change-data-feed over the manifest's
    batch registry (an incremental consumer remembers the last batch id
    it processed and reads only what landed since; batch-mode writes
    carry no batch_id and are excluded under fromBatch)."""

    def __init__(self, options: dict, schema: StructType) -> None:
        self.path = options["path"]
        self.cols = [f.name for f in schema.fields]
        from_batch = options.get("frombatch")  # option keys lowercased
        try:
            with open(os.path.join(self.path, _MANIFEST)) as fh:
                entries = json.load(fh)["files"]
            if from_batch is not None:
                k = int(from_batch)
                entries = [f for f in entries
                           if f.get("batch_id") is not None
                           and f["batch_id"] >= k]
            self.files = [f["file"] for f in entries]
        except (OSError, json.JSONDecodeError, KeyError):
            self.files = []

    def partitions(self) -> list[InputPartition]:
        return [_AuditReadPartition(os.path.join(self.path, f))
                for f in self.files] or [_AuditReadPartition("")]

    def read(self, partition: _AuditReadPartition) -> Iterator:
        if not partition.path:
            return
        with open(partition.path) as fh:
            for line in fh:
                d = json.loads(line)
                yield tuple(d[c] for c in self.cols)


class PaymentsAuditDataSource(DataSource):
    """`format("payments_audit")`: manifest-committed JSONL audit zone.
    Writing requires a schema-carrying DataFrame; reading requires the
    caller to pass the schema (`.schema(ddl)`) matching the manifest
    (the engine's explicit-schema-at-scale rule — the manifest's
    recorded DDL is the documentation)."""

    @classmethod
    def name(cls) -> str:
        return SINK_NAME

    def writer(self, schema: StructType, overwrite: bool
               ) -> DataSourceWriter:
        return _AuditWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType,  # noqa: N802 (API name)
                     overwrite: bool) -> "DataSourceStreamWriter":
        # _AuditStreamWriter is defined below; resolved at call time
        return _AuditStreamWriter(self.options, schema, overwrite)

    def reader(self, schema: StructType) -> DataSourceReader:
        return _AuditReader(self.options, schema)


def register_audit_sink(spark: SparkSession) -> None:
    spark.dataSource.register(PaymentsAuditDataSource)


def read_manifest(path: str) -> dict | None:
    try:
        with open(os.path.join(path, _MANIFEST)) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


class _AuditStreamWriter(_AuditWriter, DataSourceStreamWriter):
    """Micro-batch twin (DataSourceStreamWriter): same task-staged
    files, but commit is keyed by BATCH ID and idempotent — the
    manifest records which batch ids are already in, and a replayed
    batch (structured streaming is at-least-once into foreach-style
    sinks) is detected and discarded instead of double-appended. That
    plus the atomic manifest rename gives exactly-once CONTENT from an
    at-least-once delivery, the same argument as the batch-id-keyed
    parquet appends in streaming/corpus.py, upgraded from
    "idempotent overwrite" to "skip, don't rewrite"."""

    def __init__(self, options: dict, schema: StructType,
                 overwrite: bool) -> None:
        _AuditWriter.__init__(self, options, schema, overwrite)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        mpath = os.path.join(self.path, _MANIFEST)
        try:
            with open(mpath) as fh:
                old = json.load(fh)
        except (OSError, json.JSONDecodeError):
            old = {"schema": self.schema_ddl, "files": [],
                   "n_rows": 0, "digest": 0, "batches": []}
        if batchId in old.get("batches", []):
            # replayed batch: its rows are already committed — drop the
            # new attempt's staged files, keep the manifest untouched
            for m in messages:
                if m is not None:
                    try:
                        os.remove(os.path.join(self.staging, m.filename))
                    except OSError:
                        pass
            return
        files, total, digest = (list(old["files"]), old["n_rows"],
                                old["digest"])
        for m in messages:
            if m is None:
                continue
            os.replace(os.path.join(self.staging, m.filename),
                       os.path.join(self.path, m.filename))
            files.append({"file": m.filename, "n_rows": m.n_rows,
                          "digest": m.digest, "batch_id": batchId})
            total += m.n_rows
            digest = (digest + m.digest) % _DIGEST_MOD
        atomic_replace(mpath, json.dumps(
            {"schema": self.schema_ddl, "files": files,
             "n_rows": total, "digest": digest,
             "batches": old.get("batches", []) + [batchId]}).encode())
        try:  # drop the staging dir when this batch emptied it
            os.rmdir(self.staging)
        except OSError:
            pass

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.staging, m.filename))
                except OSError:
                    pass
