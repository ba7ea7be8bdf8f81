"""The one durable-publish primitive every on-disk structure commits by.

Both functions write ``data`` to a uniquely named ``.tmp-<uuid>`` file
in ``path``'s directory, flush and fsync it, and only then make it
visible under ``path``; the temp name is always unlinked, whether the
publish wins, loses or raises. A reader therefore sees the old file or
the complete new one, never a torn or empty one, and a crash leaves at
most a dot-prefixed orphan that every directory listing in the package
skips. The unique temp name also makes concurrent publishers to one
path safe: none can rename or unlink another's temp file.

  * ``put_if_absent`` publishes with ``os.link``: hard-link creation is
    atomic and fails with EEXIST when ``path`` exists, so it is both
    the content barrier and the optimistic-concurrency mutex of the
    versioned logs (txlog commits, catalog commits).
  * ``atomic_replace`` publishes with ``os.replace``: last writer wins,
    for pointers and rewritten files (checkpoints, offsets, manifests,
    queue segments, store meta).

One fsync policy: always. ``data`` is any bytes-like object (a
``memoryview`` over an Arrow buffer is written without a copy).
Callers own serialization, directory creation and any cross-writer
locking.
"""

from __future__ import annotations

import os
import uuid


def _publish(path: str, data: bytes | memoryview, op) -> None:
    """Write ``data`` to a fresh temp beside ``path``, fsync it, then
    ``op(tmp, path)``; the temp is unlinked however ``op`` ends."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    try:
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        op(tmp, path)
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


def put_if_absent(path: str, data: bytes | memoryview) -> bool:
    """Publish ``data`` at ``path`` unless it exists. True if this call
    created ``path``; False if it already existed (bytes untouched)."""
    try:
        _publish(path, data, os.link)
        return True
    except FileExistsError:
        return False


def atomic_replace(path: str, data: bytes | memoryview) -> None:
    """Publish ``data`` at ``path``, replacing any previous file."""
    _publish(path, data, os.replace)
