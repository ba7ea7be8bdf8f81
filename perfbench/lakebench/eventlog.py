"""Spark event-log reader: jobs, stages and task metrics per job group.

Spark writes one JSON object per line; with ``spark.eventLog.compress``
the file is zstd-compressed (``<app-id>.zstd``). pyarrow decodes it, so no
extra compression package is needed. Only the fields the benchmark
reports are kept.
"""

from __future__ import annotations

import glob
import io
import json
import os
from collections.abc import Iterator
from dataclasses import dataclass, field

from lakebench.spans import union_ms

TASK_FIELDS = ("tasks", "task_run_ms", "task_cpu_ms", "gc_ms", "input_bytes",
               "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
               "spill_bytes")


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float          # epoch seconds
    end: float | None = None
    stages: list[int] = field(default_factory=list)


def find_log(log_dir: str) -> str:
    """The single finished event log under ``log_dir``."""
    done = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")]
    if len(done) != 1:
        raise FileNotFoundError(f"expected one finished event log in "
                                f"{log_dir}, found {len(done)}")
    return done[0]


def read_events(path: str) -> Iterator[dict]:
    """Decode a zstd-compressed event log."""
    import pyarrow as pa

    raw = pa.CompressedInputStream(pa.OSFile(path, "rb"), "zstd")
    with io.TextIOWrapper(io.BufferedReader(raw), encoding="utf-8") as stream:
        for line in stream:
            line = line.strip()
            if line:
                yield json.loads(line)


class EventLog:
    """Jobs (with their group and span) and per-stage task totals."""

    def __init__(self, events):
        self.jobs: dict[int, Job] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, dict[str, float]] = {}
        self.completed_stages: list[int] = []
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                          ev["Submission Time"] / 1000.0,
                          stages=list(ev.get("Stage IDs", [])))
                self.jobs[job.job_id] = job
                for sid in job.stages:
                    self.stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                self.completed_stages.append(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                self._add_task(ev)

    def _add_task(self, ev: dict) -> None:
        m = ev.get("Task Metrics") or {}
        t = self.stage_tasks.setdefault(
            ev["Stage ID"], {k: 0.0 for k in TASK_FIELDS})
        sr = m.get("Shuffle Read Metrics") or {}
        t["tasks"] += 1
        t["task_run_ms"] += m.get("Executor Run Time", 0)
        t["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        t["gc_ms"] += m.get("JVM GC Time", 0)
        t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        t["output_bytes"] += (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0)
        t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))

    @classmethod
    def load(cls, path: str) -> "EventLog":
        return cls(read_events(path))

    def jobs_in(self, start: float, end: float) -> list[Job]:
        """Jobs submitted within [start, end] (epoch seconds)."""
        return [j for j in self.jobs.values() if start <= j.start <= end]

    def metrics(self, jobs: list[Job]) -> dict[str, float]:
        """The ``spark.*`` totals over ``jobs``."""
        ids = {j.job_id for j in jobs}
        stages = [s for s in self.completed_stages
                  if self.stage_job.get(s) in ids]
        out = {"spark.jobs": float(len(jobs)),
               "spark.stages": float(len(stages))}
        for k in TASK_FIELDS:
            out[f"spark.{k}"] = float(sum(
                self.stage_tasks.get(s, {}).get(k, 0.0) for s in set(stages)))
        out["spark.job_span_ms"] = union_ms(
            [(j.start, j.end) for j in jobs if j.end is not None])
        return out

    def by_group(self, jobs: list[Job]) -> dict[str, dict[str, float]]:
        groups: dict[str, list[Job]] = {}
        for j in jobs:
            groups.setdefault(j.group or "(none)", []).append(j)
        return {g: self.metrics(js) for g, js in sorted(groups.items())}
