"""Consumer-group semantics for the queue source (VERDICT r7 #9).

Kafka's consumer contract splits into assign() — the caller names its
partitions statically — and subscribe() — the GROUP assigns them
dynamically, rebalancing whenever membership changes. The queue source
(sources/queue_source.py) already mirrors the log (segments, offsets,
compaction, retention) and the committed-position floor; this module
adds the missing coordination half, filesystem-backed the same way the
broker's log is:

  * group state lives under ``<queue_dir>/.groups/<group>/``: one JSON
    per member plus a ``generation`` counter. Joining or leaving bumps
    the generation (Kafka's rebalance epoch) — a consumer holding an
    older generation must re-fetch its assignment before its reads are
    valid, exactly the "rejoin on ILLEGAL_GENERATION" protocol.
  * assignment is Kafka's RANGE assignor: per topic, sorted partitions
    are split into contiguous runs over the sorted member ids. It is a
    PURE FUNCTION of (members, partitions), so every member computes
    the same answer with no coordinator process — rename-based file
    creation is the only synchronization, the same primitive txlog's
    commit protocol uses.
  * positions are committed per (group, topic, partition) — the same
    durable floor file the rate-limited stream reader uses — so a
    partition HANDED OVER in a rebalance resumes at the last committed
    offset, never re-delivering committed records and never skipping.

At scale the directory becomes broker RPCs (JoinGroup/SyncGroup/
OffsetCommit); every contract below is the broker's. The data plane
stays the immutable segment files, so a poll() is a directory listing
plus sequential JSONL reads of only the member's partitions.
"""

from __future__ import annotations

import base64
import json
import os
import uuid

from aws_payment_data_lake_spark.sources.commit import atomic_replace
from aws_payment_data_lake_spark.sources.queue_source import (
    _offset_bounds,
    _partitions_of,
    _segments,
    _tp_dir,
)


class IllegalGenerationError(RuntimeError):
    """The member's assignment epoch is stale — rejoin/refresh first."""


def _range_assign(members: list[str], partitions: list[int]
                  ) -> dict[str, list[int]]:
    """Kafka's range assignor: contiguous partition runs over sorted
    members; the first (n_parts % n_members) members get one extra."""
    members = sorted(members)
    out: dict[str, list[int]] = {m: [] for m in members}
    if not members:
        return out
    per, extra = divmod(len(partitions), len(members))
    i = 0
    for k, m in enumerate(members):
        take = per + (1 if k < extra else 0)
        out[m] = partitions[i:i + take]
        i += take
    return out


def _sticky_assign(members: list[str], partitions: list[int],
                   prev: dict[str, list[int]]) -> dict[str, list[int]]:
    """Kafka's sticky/cooperative assignor contract: balanced (sizes
    differ by at most one) while moving the MINIMUM number of
    partitions off their previous owners — a joining member steals
    only the overflow above each survivor's fair share, a leaver's
    partitions spread to the members with the most slack. Pure
    function of (members, partitions, prev) with sorted tie-breaks, so
    every member computes the identical answer with no coordinator."""
    members = sorted(members)
    if not members:
        return {}
    parts = sorted(partitions)
    per, extra = divmod(len(parts), len(members))
    cap = {m: per + (1 if k < extra else 0)
           for k, m in enumerate(members)}
    out: dict[str, list[int]] = {m: [] for m in members}
    owned: set[int] = set()
    valid = set(parts)
    for m in members:                       # retain, oldest-first order
        for p in prev.get(m, []):
            if p in valid and p not in owned and len(out[m]) < cap[m]:
                out[m].append(p)
                owned.add(p)
    for p in parts:                         # place the displaced
        if p in owned:
            continue
        m = min(members, key=lambda x: (len(out[x]) - cap[x], x))
        out[m].append(p)
    return {m: sorted(ps) for m, ps in out.items()}


class ConsumerGroup:
    """Group membership + assignment + committed positions for one
    (queue_dir, group, topic)."""

    def __init__(self, queue_dir: str, group: str, topic: str,
                 assignor: str = "range") -> None:
        """``assignor``: 'range' (Kafka's default) or 'sticky' (the
        cooperative protocol — rebalances move the minimum number of
        partitions, so surviving members keep polling their retained
        partitions across the epoch bump instead of a stop-the-world
        reshuffle). Like Kafka's group protocol negotiation, every
        member of a group must use the same assignor."""
        if assignor not in ("range", "sticky"):
            raise ValueError(f"assignor must be 'range' or 'sticky', "
                             f"got {assignor!r}")
        self.dir = queue_dir
        self.group = group
        self.topic = topic
        self.assignor = assignor
        self.gdir = os.path.join(queue_dir, ".groups", group, topic)

    # ------------------------------------------------------------ state
    def _members_dir(self) -> str:
        return os.path.join(self.gdir, "members")

    def _gen_path(self) -> str:
        return os.path.join(self.gdir, "generation")

    def members(self) -> list[str]:
        d = self._members_dir()
        if not os.path.isdir(d):
            return []
        return sorted(n[:-len(".json")] for n in os.listdir(d)
                      if n.endswith(".json"))

    def generation(self) -> int:
        try:
            with open(self._gen_path()) as f:
                return int(f.read())
        except (OSError, ValueError):
            return 0

    def _bump_generation(self) -> int:
        os.makedirs(self.gdir, exist_ok=True)
        g = self.generation() + 1
        atomic_replace(self._gen_path(), str(g).encode())
        return g

    # ------------------------------------------------------- membership
    def join(self, member_id: str) -> "GroupMember":
        """Add the member and trigger a rebalance (generation bump).
        Idempotent: re-joining an existing member keeps the epoch."""
        d = self._members_dir()
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{member_id}.json")
        if not os.path.exists(path):
            atomic_replace(path, json.dumps({"member": member_id}).encode())
            self._bump_generation()
        return GroupMember(self, member_id)

    def leave(self, member_id: str) -> None:
        path = os.path.join(self._members_dir(), f"{member_id}.json")
        if os.path.exists(path):
            os.unlink(path)
            self._bump_generation()

    # ------------------------------------------------------- assignment
    def assignment(self) -> dict[str, list[int]]:
        members = self.members()
        parts = _partitions_of(self.dir, self.topic)
        if self.assignor == "range":
            return _range_assign(members, parts)
        # sticky: the previous epoch's MATERIALIZED assignment seeds
        # retention. Every member computes the same pure function of
        # (members, parts, stored prev), and the result is a fixed
        # point of itself, so concurrent writers at one generation
        # write identical content — the lock only serializes the file.
        path = os.path.join(self.gdir, "assignment.json")
        try:
            with open(path) as f:
                state = json.load(f)
        except (OSError, json.JSONDecodeError):
            state = {}
        prev = {m: [int(p) for p in ps]
                for m, ps in state.get("assignment", {}).items()}
        cur = _sticky_assign(members, parts, prev)
        gen = self.generation()
        if state.get("generation") != gen \
                or state.get("assignment") != cur:
            from aws_payment_data_lake_spark.sources.queue_source \
                import locked_json_update
            locked_json_update(
                path,
                lambda c: ({"generation": gen, "assignment": cur}
                           if c.get("generation", -1) <= gen else None))
        return cur

    # -------------------------------------------------------- positions
    # One file per partition (plus the legacy shared offsets.json read
    # for back-compat): two members committing DIFFERENT partitions
    # touch different files, so neither can overwrite the other's
    # committed offset — the non-atomic read-modify-write of a single
    # shared map lost one side's commit and re-delivered its records
    # (ADVICE r8). Same-partition writes are additionally serialized
    # under a lock, though the group contract already gives each
    # partition exactly one owner per generation.
    def _legacy_pos_path(self) -> str:
        return os.path.join(self.gdir, "offsets.json")

    def _pos_dir(self) -> str:
        return os.path.join(self.gdir, "offsets")

    def committed(self) -> dict[str, int]:
        out: dict[str, int] = {}
        try:
            with open(self._legacy_pos_path()) as f:
                out.update({k: int(v) for k, v in json.load(f).items()})
        except (OSError, json.JSONDecodeError, ValueError):
            pass
        d = self._pos_dir()
        if os.path.isdir(d):
            for n in os.listdir(d):
                if not n.endswith(".json") or n.startswith("."):
                    continue
                try:
                    with open(os.path.join(d, n)) as f:
                        o = int(json.load(f)["offset"])
                except (OSError, json.JSONDecodeError, KeyError,
                        ValueError):
                    continue
                key = n[:-len(".json")]
                out[key] = max(out.get(key, 0), o)
        return out

    def commit(self, partition: int, offset: int) -> None:
        """Monotone per-partition commit (a stale commit is a no-op,
        like OffsetCommit with an older offset)."""
        from aws_payment_data_lake_spark.sources.queue_source import (
            locked_json_update,
        )
        floor = self.committed().get(str(partition), 0)
        if offset <= floor:
            return
        path = os.path.join(self._pos_dir(), f"{partition}.json")
        locked_json_update(
            path,
            lambda cur: ({"offset": offset}
                         if offset > int(cur.get("offset", 0)) else None))


class GroupMember:
    """One consumer in the group. ``poll()`` reads ONLY the member's
    assigned partitions, from the committed position, and raises
    IllegalGenerationError if a rebalance happened since the last
    refresh — the caller re-polls, picking up the new assignment
    (records read under a stale assignment are never committed, so a
    handed-over partition re-delivers only uncommitted records)."""

    def __init__(self, group: ConsumerGroup, member_id: str) -> None:
        self.g = group
        self.id = member_id
        self._gen = group.generation()
        self._parts = group.assignment().get(member_id, [])

    @property
    def partitions(self) -> list[int]:
        return list(self._parts)

    def refresh(self) -> list[int]:
        """Re-fetch assignment at the current generation (the rejoin)."""
        self._gen = self.g.generation()
        self._parts = self.g.assignment().get(self.id, [])
        return self.partitions

    def poll(self, max_records: int = 1000,
             auto_commit: bool = True) -> list[dict]:
        if self._gen is not None and self.g.generation() != self._gen:
            raise IllegalGenerationError(
                f"{self.id}: group {self.g.group} rebalanced "
                f"(generation {self.g.generation()} != {self._gen}); "
                "refresh() and re-poll")
        committed = self.g.committed()
        out: list[dict] = []
        for p in self._parts:
            tp = _tp_dir(self.g.dir, self.g.topic, p)
            lo = committed.get(str(p), 0)
            _, hi = _offset_bounds(tp)
            if hi <= lo:
                continue
            budget = max_records - len(out)
            if budget <= 0:
                break
            got = self._read_range(tp, p, lo, min(hi, lo + budget))
            out.extend(got)
            if auto_commit and got:
                self.g.commit(p, got[-1]["offset"] + 1)
        return out

    def _read_range(self, tp: str, p: int, lo: int,
                    hi: int) -> list[dict]:
        out = []
        for seg_start, count, path in _segments(tp):
            if seg_start + count <= lo or seg_start >= hi:
                continue
            with open(path) as f:
                for line in f:
                    r = json.loads(line)
                    if lo <= r["o"] < hi:
                        out.append({
                            "partition": p, "offset": r["o"],
                            "key": (base64.b64decode(r["k"]).decode()
                                    if r["k"] else None),
                            "value": base64.b64decode(r["v"]).decode(),
                            "ts_ms": r["t"]})
        out.sort(key=lambda r: r["offset"])
        return out


def consumer_lag(queue_dir: str, group: str,
                 topic: str) -> dict[int, dict[str, int]]:
    """Per-partition lag for a group (Kafka's `kafka-consumer-groups
    --describe`): {partition: {committed, log_end, lag}}. Metadata-only
    — committed positions from the group's offsets file, log ends from
    segment filenames; no record is read. The number an autoscaler or
    alert reads to size the consumer fleet."""
    g = ConsumerGroup(queue_dir, group, topic)
    committed = g.committed()
    out: dict[int, dict[str, int]] = {}
    for p in _partitions_of(queue_dir, topic):
        _, hi = _offset_bounds(_tp_dir(queue_dir, topic, p))
        lo = committed.get(str(p), 0)
        out[p] = {"committed": lo, "log_end": hi,
                  "lag": max(0, hi - lo)}
    return out


def assign(queue_dir: str, group: str, topic: str,
           partitions: list[int]) -> GroupMember:
    """Kafka's MANUAL assignment: a consumer that names its partitions
    bypasses group membership entirely (no rebalance can take them
    away) but still shares the group's committed positions."""
    g = ConsumerGroup(queue_dir, group, topic)
    m = GroupMember(g, f"manual-{uuid.uuid4().hex[:8]}")
    m._parts = sorted(partitions)
    m._gen = None            # manual members ignore generations entirely
    return m
