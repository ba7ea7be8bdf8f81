"""Metadata-path scale proof for the ACID format: the log is the part
that must stay cheap at 100 TB (data files are Spark's problem; the
format's own cost is replay + prune over FILE metadata). Fabricates a
log with thousands of commits / ~100k live files directly (pure
metadata, no Spark) and bounds replay and prune latency, checkpointed
vs raw."""

from __future__ import annotations

import json
import os
import time

from aws_payment_data_lake_spark.sources.txlog import AddFile, TxnTable


def _fabricate(path: str, n_commits: int, files_per_commit: int,
               checkpoint_every: int) -> TxnTable:
    t = TxnTable(None, path, checkpoint_every=checkpoint_every)
    os.makedirs(t._log)
    schema_json = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]})
    for v in range(n_commits):
        adds = [{"path": f"data/w{v}/f{k}.parquet", "rows": 1000,
                 "bytes": 1 << 20,
                 "stats": {"id": [v * 1000 + k, v * 1000 + k + 1]}}
                for k in range(files_per_commit)]
        commit = {"op": "create" if v == 0 else "append", "ts": 0.0,
                  "add": adds, "remove": []}
        if v == 0:
            commit["schema_json"] = schema_json
            commit["partition_by"] = []
        assert t._try_publish(v, commit)   # checkpoints when due
    return t


def _count_commit_reads(t: TxnTable):
    """Wrap t._commit_path so each replayed commit JSON is counted —
    _replay calls it exactly once per commit it re-reads, making the
    checkpoint's bounding effect STRUCTURAL rather than a wall-clock
    race (timing asserts flaked when the full suite's 32-thread Spark
    runs loaded the box)."""
    reads = []
    orig = t._commit_path

    def counting(v):
        reads.append(v)
        return orig(v)

    t._commit_path = counting
    return reads


def test_replay_and_prune_at_100k_files(tmp_path):
    """2,000 commits x 50 files = 100k live files (~100 TB at 1 GB
    files): checkpointed replay re-reads only the post-checkpoint JSON
    tail (structural count, load-independent), pruning visits pure
    metadata, and both stay inside a generous wall ceiling."""
    t = _fabricate(str(tmp_path / "big"), n_commits=2000,
                   files_per_commit=50, checkpoint_every=500)

    reads = _count_commit_reads(t)
    t0 = time.time()
    snap = t._replay()
    replay_s = time.time() - t0
    assert len(snap.live) == 100_000
    # checkpoints landed at 500/1000/1500 -> the tail is 1501..1999
    assert len(reads) == 499, f"replayed {len(reads)} commits, want 499"
    assert replay_s < 20.0, f"checkpointed replay took {replay_s:.2f}s"

    t0 = time.time()
    kept, total = t.scan_file_count("id", 500_000, 500_010)
    prune_s = time.time() - t0
    # files k=0..10 of commit 500 overlap [500000, 500010]
    assert total == 100_000 and kept == 11
    assert prune_s < 10.0, f"prune took {prune_s:.2f}s"

    # the checkpoint must be doing the bounding: replay from raw JSON
    # only (checkpoint pointer removed) re-reads the ENTIRE log
    os.unlink(os.path.join(t._log, "_last_checkpoint"))
    reads.clear()
    snap2 = t._replay()
    assert len(snap2.live) == 100_000
    assert len(reads) == 2000, (
        f"raw replay read {len(reads)} commits, want all 2000 — "
        "checkpoint isn't what bounds the tail")
