"""Conformance pin for TXLOG_FORMAT.md's LogStore section (VERDICT r9
#4): the commit protocol's storage footprint IS the portability
contract. Every single-file publish goes through `sources/commit.py`,
so the storage operations are pinned there — `put_if_absent` for
claims, `atomic_replace` for derived data — and the log writers are
pinned to their exact `os.*` footprint, which names no publishing
primitive. If either side
changes, this test fails and the spec (plus any object-store LogStore
port) must be revisited together — the same discipline as the
independent-reader interop pin."""

from __future__ import annotations

import inspect
import os
import re

from tests.conftest import REPO

from aws_payment_data_lake_spark.sources import commit
from aws_payment_data_lake_spark.sources.catalog import CatalogLog
from aws_payment_data_lake_spark.sources.txlog import TxnTable

# Storage footprint of the shared publish body (temp name, write,
# fsync, always unlink the temp); the public functions add one op each.
_PUBLISH_BODY = {"path.join", "path.dirname", "fsync", "unlink"}


def _os_ops(fn) -> set[str]:
    """Every ``os.*`` name ``fn`` calls OR passes along (commit.py hands
    ``os.link``/``os.replace`` to its helper uncalled)."""
    src = inspect.getsource(fn)
    return set(re.findall(r"\bos\.((?:path\.)?[a-z_]+)\b", src))


def test_try_publish_uses_only_put_if_absent_primitives():
    """Property 1 (put-if-absent): `_try_publish` makes the log dir and
    claims through commit.put_if_absent, nothing else; put_if_absent is
    fsync'd temp + hard link + unlink. In particular no rename/replace
    (not a claim arbiter) and no listing (claims are arbitrated by the
    link, never by what a writer saw)."""
    assert _os_ops(TxnTable._try_publish) == {"makedirs"}
    assert "put_if_absent(" in inspect.getsource(TxnTable._try_publish)
    assert _os_ops(commit._publish) == _PUBLISH_BODY
    ops = _os_ops(commit.put_if_absent)
    assert ops == {"link"} and \
        "_publish(" in inspect.getsource(commit.put_if_absent), \
        f"put_if_absent storage footprint changed: {sorted(ops)} — " \
        "update TXLOG_FORMAT.md 'LogStore contract' and this pin " \
        "together"


def test_checkpoint_uses_only_idempotent_replace():
    """Property 2 (last-writer-wins replace of derived data):
    `_maybe_checkpoint` writes through commit.atomic_replace only;
    atomic_replace is fsync'd temp + os.replace + unlink of the temp —
    no link (a checkpoint must never become a claim) and no deletes."""
    src = inspect.getsource(TxnTable._maybe_checkpoint)
    assert _os_ops(TxnTable._maybe_checkpoint) == {"path.join"}
    assert "atomic_replace(" in src and "put_if_absent(" not in src
    assert _os_ops(commit._publish) == _PUBLISH_BODY
    ops = _os_ops(commit.atomic_replace)
    assert ops == {"replace"} and \
        "_publish(" in inspect.getsource(commit.atomic_replace), \
        f"atomic_replace storage footprint changed: {sorted(ops)} — " \
        "update TXLOG_FORMAT.md 'LogStore contract' and this pin " \
        "together"


def test_catalog_publish_uses_put_if_absent():
    """The catalog log claims versions exactly like the txlog."""
    assert _os_ops(CatalogLog._publish) == {"makedirs", "path.join"}
    assert "put_if_absent(" in inspect.getsource(CatalogLog._publish)


def test_commit_claim_never_reads_before_linking():
    """The writer must not gate the claim on a listing or existence
    check — property 1's conditional write is the only arbiter (an
    eventually-consistent listing would make exists() a lost-update
    vector)."""
    for fn in (TxnTable._try_publish, commit.put_if_absent,
               commit._publish):
        src = inspect.getsource(fn)
        for banned in ("os.listdir", "os.path.exists", "os.path.isfile",
                       "os.stat"):
            assert banned not in src, \
                f"{fn.__qualname__} consults {banned}: claims must be " \
                "arbitrated by the atomic link alone"


# Publishing calls allowed outside commit.py: each is a directory-level
# or executor-staged publish that is not a single-file write of bytes
# the caller holds (package-relative path -> number of call sites).
_ALLOWED_DIRECT = {
    # version/table dir rename-as-mutex, and the hardlinked prior files
    "sources/store.py": 3,
    # compaction's zone swap and its .compact-bak recovery
    "sources/maintenance.py": 3,
    # the lock-steal rename, and produce_distributed's commit of
    # executor-staged segments
    "sources/queue_source.py": 2,
    # the 2PC commit moving executor-staged data files out of .staging
    "sources/audit_sink.py": 2,
}


def test_no_hand_rolled_publish_outside_commit_module():
    pkg = os.path.join(REPO, "aws_payment_data_lake_spark")
    found: dict[str, int] = {}
    for root, _, files in os.walk(pkg):
        for n in files:
            if not n.endswith(".py"):
                continue
            path = os.path.join(root, n)
            rel = os.path.relpath(path, pkg).replace(os.sep, "/")
            if rel == "sources/commit.py":
                continue
            with open(path) as fh:
                code = [ln for ln in fh
                        if not ln.lstrip().startswith("#")]
            hits = sum(len(re.findall(r"\bos\.(?:link|replace|rename)\(",
                                      ln)) for ln in code)
            if hits:
                found[rel] = hits
    assert found == _ALLOWED_DIRECT, \
        "a module publishes a file without sources/commit.py: " \
        f"{found} (allowed: {_ALLOWED_DIRECT})"
