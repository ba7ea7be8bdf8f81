"""sources/commit.py — the one durable-publish primitive.

Unit pins: ``put_if_absent`` loses cleanly (False, existing bytes
untouched), and no ``.tmp-*`` file survives a win, a loss or an
exception raised mid-write. Crash pins: a child process is killed
(``os._exit``) right after the temp file's fsync and again right after
the publish, for each on-disk protocol that no other test kills
mid-publish; a fresh reader must then see the old state or the new
state, never a torn or empty file. The child installs its kill hooks
by patching ``os`` itself, so the package carries no crash hook."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import REPO

from aws_payment_data_lake_spark.sources.commit import (
    atomic_replace,
    put_if_absent,
)


def _tmp_names(d) -> list[str]:
    return [n for n in os.listdir(d) if n.startswith(".tmp-")]


def test_put_if_absent_wins_then_loses_keeping_bytes(tmp_path):
    p = str(tmp_path / "0.json")
    assert put_if_absent(p, b"first") is True
    assert put_if_absent(p, b"second") is False
    with open(p, "rb") as fh:
        assert fh.read() == b"first"
    assert _tmp_names(tmp_path) == []


def test_atomic_replace_overwrites_and_cleans_up(tmp_path):
    p = str(tmp_path / "ptr")
    atomic_replace(p, b"one")
    atomic_replace(p, b"two")
    with open(p, "rb") as fh:
        assert fh.read() == b"two"
    assert _tmp_names(tmp_path) == []


@pytest.mark.parametrize("publish", [put_if_absent, atomic_replace])
def test_no_temp_left_when_the_write_raises(tmp_path, monkeypatch,
                                            publish):
    p = str(tmp_path / "target")
    with open(p, "wb") as fh:
        fh.write(b"old")

    def boom(fd):
        raise OSError("disk full")

    monkeypatch.setattr(os, "fsync", boom)
    with pytest.raises(OSError, match="disk full"):
        publish(p, b"new")
    monkeypatch.undo()
    with open(p, "rb") as fh:
        assert fh.read() == b"old"
    assert _tmp_names(tmp_path) == []


# ---------------------------------------------------------------- crashes

# argv: repo, protocol, phase ("fsync" | "publish"), work dir.
# Writes the OLD state unhooked, arms the kill hook, then attempts the
# NEW state; exit code 17 proves the hook fired mid-publish.
_CHILD = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
proto, phase, d = sys.argv[2:5]


def arm():
    def is_tmp(p):
        return os.path.basename(p).startswith(".tmp-")

    real_fsync, real_link, real_replace = os.fsync, os.link, os.replace
    if phase == "fsync":
        def fsync(fd):
            real_fsync(fd)
            if is_tmp(os.readlink(f"/proc/self/fd/{fd}")):
                os._exit(17)
        os.fsync = fsync
    else:
        def link(src, dst, *a, **k):
            real_link(src, dst, *a, **k)
            if is_tmp(src):
                os._exit(17)

        def replace(src, dst, *a, **k):
            real_replace(src, dst, *a, **k)
            if is_tmp(src):
                os._exit(17)
        os.link, os.replace = link, replace


if proto == "catalog":
    from aws_payment_data_lake_spark.sources.catalog import CatalogLog
    cat = CatalogLog(d)
    cat.commit("create", "a", lambda m: {**m, "a": {"path": "/a"}})
    arm()
    cat.commit("create", "b", lambda m: {**m, "b": {"path": "/b"}})
elif proto == "queue_produce":
    from aws_payment_data_lake_spark.sources.queue_source import produce
    produce(d, "t", [{"value": "a"}], num_partitions=1)
    arm()
    produce(d, "t", [{"value": "b"}, {"value": "c"}], num_partitions=1)
elif proto == "group_generation":
    from aws_payment_data_lake_spark.sources.consumer_group import (
        ConsumerGroup)
    g = ConsumerGroup(d, "g", "t")
    g._bump_generation()
    arm()
    g._bump_generation()
elif proto == "audit_manifest":
    from pyspark.sql.types import StringType, StructField, StructType
    from aws_payment_data_lake_spark.sources.audit_sink import (
        _AuditCommit, _AuditWriter)
    schema = StructType([StructField("a", StringType())])
    os.makedirs(d, exist_ok=True)
    _AuditWriter({"path": d}, schema, False).commit([])
    w = _AuditWriter({"path": d}, schema, False)
    os.makedirs(w.staging, exist_ok=True)
    with open(os.path.join(w.staging, "part-x.jsonl"), "w") as fh:
        fh.write(json.dumps({"a": "x"}) + "\n")
    arm()
    w.commit([_AuditCommit("part-x.jsonl", 1, 7)])
elif proto == "store_meta":
    from aws_payment_data_lake_spark.sources.store import _commit_meta
    os.makedirs(d, exist_ok=True)
    _commit_meta(d, "v2-1-" + "0" * 16, ["t"])
    arm()
    _commit_meta(d, "v2-2-" + "0" * 16, ["t"])
"""


def _catalog_state(d):
    from aws_payment_data_lake_spark.sources.catalog import CatalogLog
    return sorted(CatalogLog(d).load()[1])


def _queue_state(d):
    from aws_payment_data_lake_spark.sources.queue_source import (
        _segments,
        _tp_dir,
    )
    out = []
    for start, count, path in _segments(_tp_dir(d, "t", 0)):
        with open(path) as fh:
            recs = [json.loads(line) for line in fh]
        assert [r["o"] for r in recs] == list(range(start, start + count))
        out += [r["o"] for r in recs]
    return out


def _generation_state(d):
    with open(os.path.join(d, ".groups", "g", "t", "generation")) as fh:
        return fh.read()


def _audit_state(d):
    with open(os.path.join(d, "_MANIFEST.json")) as fh:
        m = json.load(fh)
    assert all(os.path.exists(os.path.join(d, f["file"]))
               for f in m["files"])
    return (m["n_rows"], [f["file"] for f in m["files"]])


def _store_state(d):
    with open(os.path.join(d, "_STORE_META.json")) as fh:
        return json.load(fh)["fingerprint"]


# protocol -> (fresh-reader state function, old state, new state)
_PROTOCOLS = {
    "catalog": (_catalog_state, ["a"], ["a", "b"]),
    "queue_produce": (_queue_state, [0], [0, 1, 2]),
    "group_generation": (_generation_state, "1", "2"),
    "audit_manifest": (_audit_state, (0, []), (1, ["part-x.jsonl"])),
    "store_meta": (_store_state, "v2-1-" + "0" * 16, "v2-2-" + "0" * 16),
}


@pytest.mark.parametrize("phase", ["fsync", "publish"])
@pytest.mark.parametrize("proto", sorted(_PROTOCOLS))
def test_kill_mid_publish_leaves_old_or_new_state(tmp_path, proto, phase):
    d = str(tmp_path / "w")
    r = subprocess.run([sys.executable, "-c", _CHILD, REPO, proto,
                        phase, d], capture_output=True, text=True,
                       timeout=120)
    assert r.returncode == 17, \
        f"kill hook never fired (rc={r.returncode}): {r.stderr[-2000:]}"
    read, old, new = _PROTOCOLS[proto]
    # killed after the temp's fsync: nothing published yet; killed
    # right after the publish: the new state is whole
    assert read(d) == (old if phase == "fsync" else new)
