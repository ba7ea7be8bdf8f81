"""One benchmark run: set-up, a closed-loop timed phase with one client,
output checks, and the run record.

The harness only calls the package's public functions. With tracing on,
``Tracer.instrument`` wraps those functions from outside and Spark's
event log is enabled; with tracing off neither is, so the end-to-end
numbers come from an uninstrumented program.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from statistics import median

from lakebench import spans as SP
from lakebench.rss import PeakRss
from lakebench.stats import tail

# The end-to-end metrics every workload reports (tracing off), and the
# per-layer metrics every workload reports (tracing on); BENCHMARK.json
# lists the same names.
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
              "input_per_s": "1/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.get_spark_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.job_span_ms": "ms",
    "spark.driver_ms": "ms", "self.sources.txlog_ms": "ms",
    "sources.txlog.calls": "count", "sources.txlog.files_added": "count",
    "sources.txlog.files_removed": "count",
    "sources.txlog.bytes_added": "bytes",
    "harness.ops": "count", "tracing_overhead": "ratio",
}


@dataclass
class Context:
    spark: object
    root: str          # checkout root
    work: str          # this run's scratch dir (removed at the end)
    seed: int
    tracer: SP.Tracer
    trace: bool        # this is a traced run
    small: bool        # tiny sizes for the smoke tests


class Workload:
    """Base class. ``op`` runs one unit op and returns the input units it
    consumed; checks return a list of failure messages."""

    name = ""
    unit = ""              # input unit: events, statements
    rate_name = ""         # workload-specific throughput name
    label = ""             # what the last op ran, for the record

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.extra: dict[str, float] = {}

    def instrument(self) -> None:
        """Wrap the package functions this workload calls (tracing on)."""

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> int:
        raise NotImplementedError

    def traced_op(self, i: int) -> bool:
        """Whether op ``i`` of a traced run records spans: every other
        one, so the run measures its own overhead against the untraced
        ops beside it."""
        return i % 2 == 1

    def mid_pass(self) -> bool:
        """True while a fixed sequence of ops is unfinished; the timed
        phase ends only between sequences, so every run measures the same
        mix of ops."""
        return False

    def check_op(self, i: int) -> list[str]:
        return []

    def check_final(self) -> list[str]:
        return []

    def layer_metrics(self, t0: float, t1: float) -> dict[str, float]:
        """Counts read from the program's own on-disk state."""
        return {}

    def close(self) -> None:
        pass


def instrument_module(tracer: SP.Tracer, module, prefix: str) -> None:
    """Wrap every public function defined in ``module``."""
    names = [k for k, v in vars(module).items()
             if callable(v) and not k.startswith("_")
             and getattr(v, "__module__", None) == module.__name__
             and not isinstance(v, type)]
    tracer.instrument(module, names, prefix)


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total


def txlog_commits(table_dir: str) -> list[dict]:
    """Every JSON commit of a txlog table, in version order."""
    log = os.path.join(table_dir, "_txlog")
    if not os.path.isdir(log):
        return []
    out = []
    for n in sorted(os.listdir(log)):
        if n.endswith(".json") and n[:-5].isdigit():
            with open(os.path.join(log, n)) as f:
                c = json.load(f)
            c["_version"] = int(n[:-5])
            out.append(c)
    return out


def txlog_stats(table_dirs: list[str], t0: float, t1: float,
                ops: int) -> dict[str, float]:
    """Per-op file churn of commits made in [t0, t1], plus end state."""
    added = removed = nbytes = merges = removed_by_merge = 0
    versions = live_n = 0
    for d in table_dirs:
        live: set[str] = set()
        commits = txlog_commits(d)
        for c in commits:
            adds = c.get("add") or []
            rems = c.get("remove") or []
            live.update(a["path"] for a in adds)
            live.difference_update(rems)
            if t0 <= float(c.get("ts", 0)) <= t1:
                added += len(adds)
                removed += len(rems)
                nbytes += sum(int(a.get("bytes", 0)) for a in adds)
                if c.get("op") == "merge":
                    merges += 1
                    removed_by_merge += len(rems)
        versions += commits[-1]["_version"] if commits else 0
        live_n += len(live)
    per = max(ops, 1)
    return {"sources.txlog.files_added": added / per,
            "sources.txlog.files_removed": removed / per,
            "sources.txlog.bytes_added": nbytes / per,
            "sources.txlog.files_removed_per_merge":
                removed_by_merge / merges if merges else 0.0,
            "sources.txlog.versions": float(versions),
            "sources.txlog.files_live": float(live_n)}


def source_digest(root: str) -> str:
    """sha256 over the package's Python sources: identifies the program
    when the checkout is not a git repository."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(root, "aws_payment_data_lake_spark")
    for dp, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dp, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine so far: the share a
    hypervisor gave to other guests, which can explain drift between
    runs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def _nproc() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'derby')}"}
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "eventlog"),
                     "spark.eventLog.rolling.enabled": "false",  # one file
                     "spark.eventLog.compress": "true",
                     "spark.eventLog.compression.codec": "zstd"})
    return conf


def prepare_env(root: str, work: str, nproc: int) -> None:
    """Everything Spark and its workers need before the JVM starts: the
    package on every Python worker's path, and temp space in the run's
    own directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p and p != root]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no JVM perf-data file under /tmp: a run writes only inside its checkout
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    if "UsePerfData" not in opts:
        os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -XX:-UsePerfData".strip()
    import tempfile
    tempfile.tempdir = None          # re-read TMPDIR on next use


def run(workload: str, seed: int, seconds: float, trace: bool, root: str,
        t_process: float, small: bool = False) -> dict:
    """Run one workload and return its record (see ``result_line``)."""
    from lakebench.workloads import WORKLOADS

    cls = WORKLOADS[workload]
    nproc = _nproc()
    started = _dt.datetime.now(_dt.timezone.utc)
    run_id = (f"{workload}-seed{seed}-trace{int(trace)}-"
              f"{started.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    work = os.path.join(root, "perfbench", ".work", run_id)
    out_dir = os.path.join(root, "perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(root, work, nproc)
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    tracer = SP.Tracer(workload, trace)
    lat_ms: list[float] = []
    op_windows: list[tuple[float, float, int]] = []
    traced_ops: list[bool] = []      # per attempted op
    lat_traced: list[bool] = []      # per entry of lat_ms
    labels: list[str] = []
    failures: list[str] = []
    units = attempted = failed = 0
    spark = None
    wl = None
    try:
        with PeakRss() as rss:
            from aws_payment_data_lake_spark import session as S

            tracer.instrument(S, ["get_spark"], "session")
            spark = S.get_spark(app_name=f"perfbench-{workload}",
                                master=f"local[{nproc}]",
                                extra_conf=_spark_conf(work, trace))
            spark.sparkContext.setLogLevel("ERROR")
            tracer.attach_spark(spark)
            ctx = Context(spark, root, work, seed, tracer, trace, small)
            wl = cls(ctx)
            wl.instrument()
            with tracer.span("harness.setup"):
                wl.setup()
            spark.catalog.clearCache()
            setup_s = time.time() - t_process

            tracer.phase = "op"
            t_timed = time.time()
            deadline = time.perf_counter() + seconds
            i = 0
            while time.perf_counter() < deadline or wl.mid_pass():
                i += 1
                attempted += 1
                on = trace and wl.traced_op(i)
                tracer.enabled = on
                tracer.op = i
                w0 = time.time()
                t0 = time.perf_counter()
                ok = True
                try:
                    with tracer.span("harness.op"):
                        got = wl.op(i)
                except Exception:
                    ok, got = False, 0
                    failures.append(f"op {i}: {traceback.format_exc(limit=3)}")
                lat = (time.perf_counter() - t0) * 1000.0
                w1 = time.time()
                tracer.enabled = False      # checks are not traced
                spark.catalog.clearCache()
                if ok:
                    rss.paused = True       # nor counted in peak memory
                    try:
                        bad = wl.check_op(i)
                    except Exception:
                        bad = [f"check raised: {traceback.format_exc(limit=3)}"]
                    rss.paused = False
                    if bad:
                        ok = False
                        failures.extend(f"op {i}: {b}" for b in bad)
                if ok:
                    units += got
                    lat_ms.append(lat)
                    lat_traced.append(on)
                    labels.append(wl.label)
                else:
                    failed += 1
                op_windows.append((w0, w1, i))
                traced_ops.append(on)
            t_timed_end = time.time()
            rss.paused = True
            try:
                final_bad = wl.check_final()
            except Exception:
                final_bad = [f"final check raised: {traceback.format_exc(limit=3)}"]
            if final_bad:
                # the final state is the product of every op
                failures.extend(final_bad)
                failed = attempted
            layer_counts = wl.layer_metrics(t_timed, t_timed_end) if trace else {}
            extra = dict(wl.extra)
            wl.close()
            spark.stop()
            spark = None
        peak_rss = rss.peak
        if trace:
            per_layer, trace_doc = _trace_summary(
                tracer, work, op_windows, traced_ops, lat_ms, lat_traced,
                labels, layer_counts, attempted)
    finally:
        if wl is not None and spark is not None:
            try:
                wl.close()
            finally:
                spark.stop()
        tracer.restore()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    timed_busy_s = sum(lat_ms) / 1000.0
    t = tail(lat_ms) if lat_ms else {"value": float("nan"), "percentile": 0,
                                     "beyond": 0, "samples": 0, "rule": "none"}
    metrics = {
        "setup_s": setup_s,
        "op_p50_ms": median(lat_ms) if lat_ms else float("nan"),
        "op_tail_ms": t["value"],
        "input_per_s": units / timed_busy_s if timed_busy_s else 0.0,
        "peak_rss_mb": peak_rss / 2**20,
    }
    record = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(trace), "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_commit": git_commit(root), "source_digest": source_digest(root),
        "started_utc": started.isoformat(),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "cpu_steal_share": _steal_share(ticks_start, cpu_ticks()),
        "samples": len(lat_ms), "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
        "tail": t, "unit": cls.unit, "units": units,
        "rate_name": cls.rate_name, cls.rate_name: metrics["input_per_s"],
        "latencies_ms": lat_ms, "op_labels": labels,
        "failures": failures[:20],
        "end_to_end": metrics, **extra,
    }
    if trace:
        record["per_layer"] = per_layer
        trace_path = os.path.join(out_dir, run_id + ".trace.json")
        with open(trace_path, "w") as f:
            json.dump(trace_doc, f)
        record["trace_file"] = os.path.relpath(trace_path, root)
    record_path = os.path.join(out_dir, run_id + ".json")
    record["record_file"] = os.path.relpath(record_path, root)
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1)
    return record


def _steal_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    return (b[0] - a[0]) / (b[1] - a[1]) if b[1] > a[1] else 0.0


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM that PySpark launched and wait for it: closing its
    stdin is PySpark's own shutdown signal; kill if it does not exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:
        pass                 # the JVM may already be gone
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tracing_overhead(lat_ms: list[float], traced: list[bool],
                     labels: list[str]) -> float:
    """Median over op labels of (mean traced latency / mean untraced
    latency), so that a mix of different statements compares like with
    like. 1.0 when no label has both kinds of op."""
    by: dict[str, tuple[list[float], list[float]]] = {}
    for x, tr, lab in zip(lat_ms, traced, labels):
        by.setdefault(lab, ([], []))[0 if tr else 1].append(x)
    ratios = [sum(t) / len(t) / (sum(u) / len(u))
              for t, u in by.values() if t and u]
    return median(ratios) if ratios else 1.0


def _trace_summary(tracer, work, op_windows, traced_ops, lat_ms, lat_traced,
                   labels, layer_counts, attempted):
    """Per-layer metrics (per traced op) and the trace document."""
    from lakebench.eventlog import EventLog, find_log

    spans = tracer.spans
    selfs = SP.self_times(spans)
    op_spans = [s for s in spans if s.phase == "op"]
    traced_ids = {i for (_, _, i), tr in zip(op_windows, traced_ops) if tr}
    n_traced = max(len(traced_ids), 1)
    by_name = SP.per_name(op_spans, selfs)
    layer_self = SP.per_layer_self(op_spans, selfs)

    ev = EventLog.load(find_log(os.path.join(work, "eventlog")))
    traced_windows = [(w0, w1) for (w0, w1, i) in op_windows if i in traced_ids]
    op_jobs = [j for w0, w1 in traced_windows for j in ev.jobs_in(w0, w1)]
    spark_m = ev.metrics(op_jobs)
    op_wall_ms = sum((w1 - w0) * 1000.0 for w0, w1 in traced_windows)
    job_union = sum(SP.union_ms([(max(j.start, w0), min(j.end, w1))
                                 for j in ev.jobs_in(w0, w1)
                                 if j.end is not None])
                    for w0, w1 in traced_windows)
    spark_m["spark.job_span_ms"] = job_union
    spark_m["spark.driver_ms"] = op_wall_ms - job_union

    per_op = {k: v / n_traced for k, v in spark_m.items()}
    metrics: dict[str, float] = {}
    metrics.update(per_op)
    for name, d in by_name.items():
        metrics[f"{name}_ms"] = d["total_ms"] / n_traced
        metrics[f"{name}.calls"] = d["calls"] / n_traced
        metrics[f"{name}.p50_ms"] = d["p50_ms"]
    for layer, ms in layer_self.items():
        metrics[f"self.{layer}_ms"] = ms / n_traced
    # set-up work (the session, and on analyst_queries the medallion
    # plans that build the silver and gold tables) is done once per run
    for name, d in SP.per_name([s for s in spans if s.phase != "op"],
                               selfs).items():
        metrics[f"setup.{name}_ms"] = d["total_ms"]
    metrics["session.get_spark_ms"] = metrics["setup.session.get_spark_ms"]
    metrics["sources.txlog.calls"] = sum(
        d["calls"] for n, d in by_name.items()
        if n.startswith("sources.txlog.")) / n_traced
    metrics["queries.exec_ms"] = sum(
        v for k, v in metrics.items()
        if k.startswith("queries.") and k.endswith(".exec_ms"))
    if "streaming.drain_ms" in metrics:
        metrics["streaming.trigger_ms"] = (metrics["streaming.drain_ms"]
                                           - metrics.get("streaming.cdc.apply_ms", 0.0))
    metrics.update(layer_counts)
    metrics["harness.ops"] = float(attempted)

    metrics["tracing_overhead"] = tracing_overhead(lat_ms, lat_traced, labels)

    accounting = []
    for w0, w1, i in op_windows:
        if i not in traced_ids:
            continue
        ss = [s for s in op_spans if s.op == i]
        jobs = ev.jobs_in(w0, w1)
        union = SP.union_ms([(max(j.start, w0), min(j.end, w1))
                             for j in jobs if j.end is not None])
        accounting.append({
            "op": i, "wall_ms": (w1 - w0) * 1000.0,
            "self_ms_sum": sum(selfs[s.sid] for s in ss),
            "self_ms_by_layer": SP.per_layer_self(ss, selfs),
            "spark_job_span_ms": union,
            "spark_driver_ms": (w1 - w0) * 1000.0 - union})
    doc = {
        "workload": tracer.workload,
        "definitions": {
            "<span>_ms": "inclusive time of the span per traced op",
            "self.<layer>_ms": "span time minus child spans, per traced op",
            "spark.*": "event-log totals of jobs started inside traced ops, "
                       "per traced op; spark.driver_ms = op wall - union "
                       "of job spans",
            "setup.<span>_ms": "inclusive time of the span during set-up "
                               "(once per run)",
            "tracing_overhead": "traced / untraced op latency of the same "
                                "run (ops alternate), median over op labels; "
                                "the event log is on for both, so its cost "
                                "is not in this ratio"},
        "per_layer": metrics,
        "spark_by_job_group": ev.by_group(op_jobs),
        "accounting": accounting,
        "spans": [s.to_json() for s in spans],
    }
    return metrics, doc


def result_line(record: dict) -> dict:
    """The last stdout line: correctness, counts and the metrics named
    in BENCHMARK.json (end-to-end untraced, per-layer traced)."""
    if record["trace"]:
        names = PER_LAYER
        src = record["per_layer"]
    else:
        names = END_TO_END
        src = record["end_to_end"]
    def num(v) -> float:       # no sample (every op failed) has no value
        v = float(v)
        return v if math.isfinite(v) else 0.0

    return {"correct": record["failed"] == 0,
            "attempted": record["attempted"], "failed": record["failed"],
            "metrics": {k: {"value": num(src.get(k, 0.0)), "unit": u}
                        for k, u in names.items()}}
