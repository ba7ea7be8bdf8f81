"""Unit tests of the benchmark's own pieces: the tail rule, self times,
and the event-log reader (on a small committed log)."""

from __future__ import annotations

import os

import pytest

from lakebench import spans as SP
from lakebench.eventlog import EventLog, find_log, read_events
from lakebench.stats import tail

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog")


def test_tail_picks_highest_percentile_with_ten_beyond():
    vals = list(range(1, 101))            # 100 samples
    t = tail(vals)
    assert t["percentile"] == 90.0 and t["value"] == 90 and t["beyond"] == 10
    t = tail(list(range(1, 1001)))        # 1000 samples: p99 has 10 beyond
    assert t["percentile"] == 99.0 and t["value"] == 990


def test_tail_small_samples():
    assert tail(list(range(1, 21)))["percentile"] == 50.0      # 10 beyond
    t = tail([3.0, 1.0, 2.0])
    assert t["value"] == 3.0 and t["percentile"] == 100.0 and t["samples"] == 3
    with pytest.raises(ValueError):
        tail([])


def _span(sid, start, end, parent=None):
    return SP.Span(sid, f"s{sid}", start, end, parent, 1, "op", "w")


def test_self_time_subtracts_union_of_children():
    spans = [_span(0, 0.0, 1.0),
             _span(1, 0.1, 0.4, 0), _span(2, 0.3, 0.5, 0),   # overlap
             _span(3, 0.2, 0.3, 1),                           # grandchild
             _span(4, 0.9, 1.2, 0)]                           # clipped
    selfs = SP.self_times(spans)
    assert selfs[0] == pytest.approx(1000 - 400 - 100)
    assert selfs[1] == pytest.approx(300 - 100)
    assert selfs[3] == pytest.approx(100)
    nested = [_span(0, 0.0, 1.0), _span(1, 0.2, 0.6, 0), _span(2, 0.3, 0.4, 1)]
    # without overlapping siblings, self times add up to the root's wall
    assert sum(SP.self_times(nested).values()) == pytest.approx(1000)


def test_union_ms():
    assert SP.union_ms([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3000)
    assert SP.union_ms([]) == 0.0


def test_tracer_nests_and_restores():
    import types

    mod = types.ModuleType("aws_payment_data_lake_spark._probe")

    def inner():
        return 1

    def outer():
        return mod.inner() + 1

    mod.inner, mod.outer = inner, outer
    tr = SP.Tracer("w", enabled=True)
    tr.instrument(mod, ["inner", "outer"], "probe")
    assert mod.outer() == 2
    by = {s.name: s for s in tr.spans}
    assert by["probe.inner"].parent == by["probe.outer"].sid
    tr.restore()
    assert mod.inner is inner and mod.outer is outer


def test_eventlog_reader_on_fixture():
    path = find_log(FIXTURE)
    assert path.endswith(".zstd")
    kinds = {e["Event"] for e in read_events(path)}
    assert "SparkListenerTaskEnd" in kinds
    ev = EventLog.load(path)
    jobs = list(ev.jobs.values())
    groups = ev.by_group(jobs)
    assert set(groups) == {"fixture.count", "fixture.shuffle"}
    shuffle = groups["fixture.shuffle"]
    assert shuffle["spark.shuffle_write_bytes"] > 0
    assert shuffle["spark.shuffle_read_bytes"] > 0
    total = ev.metrics(jobs)
    assert total["spark.jobs"] == len(jobs) >= 2
    assert total["spark.tasks"] >= total["spark.stages"] >= 2
    assert total["spark.task_run_ms"] >= 0 and total["spark.job_span_ms"] > 0
    assert total["spark.tasks"] == sum(g["spark.tasks"] for g in groups.values())


def test_tracing_overhead_compares_like_with_like():
    from lakebench.harness import tracing_overhead

    lat = [100.0, 110.0, 1000.0, 1100.0, 10.0]
    traced = [True, False, False, True, True]
    labels = ["a", "a", "b", "b", "c"]
    # a: 100/110, b: 1100/1000, c has no untraced op
    assert tracing_overhead(lat, traced, labels) == pytest.approx(
        (100 / 110 + 1.1) / 2)
    assert tracing_overhead([1.0], [True], ["x"]) == 1.0
