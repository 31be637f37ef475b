"""Spans around calls into dataforge_spark's public functions, and the Spark
counters behind each span.

A traced run replaces each public function named in ``TARGETS`` with a
wrapper that records a span (name, start, end, parent, thread) and runs
the call under a job group of its own. After the run, every span's jobs
are looked up in Spark's status store, so jobs are attributed to the
innermost span whose thread started them -- also with two clients in
flight at once. Untraced runs install nothing.

Spark evaluates lazily: the executor work of lazily composed operators
falls under the span whose action runs it, usually ``io.write_*``.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import os
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# (module, attribute path, span name). A bound name imported into another
# module needs its own entry: service.py calls ``dataset_info`` through
# its own module namespace.
TARGETS = [
    ("dataforge_spark.service", "DataForgeService.upload", "service.upload"),
    ("dataforge_spark.service", "DataForgeService.clean_data", "service.clean_data"),
    ("dataforge_spark.service", "DataForgeService.download_path", "service.download"),
    ("dataforge_spark.service", "DataForgeService.delete_file", "service.delete"),
    ("dataforge_spark.io", "read_csv", "io.read_csv"),
    ("dataforge_spark.io", "write_csv", "io.write_csv"),
    ("dataforge_spark.io", "read_parquet", "io.read_parquet"),
    ("dataforge_spark.io", "write_parquet", "io.write_parquet"),
    ("dataforge_spark.profile", "dataset_info", "profile.dataset_info"),
    ("dataforge_spark.service", "dataset_info", "profile.dataset_info"),
    ("dataforge_spark.profile", "missing_counts", "profile.missing_counts"),
    ("dataforge_spark.pipeline", "CleaningPipeline.run", "pipeline.run"),
    ("dataforge_spark.pipeline", "cells_changed", "pipeline.cells_changed"),
    ("dataforge_spark.operators.type_conversion", "convert_data_types", "operators.data_type_conversion"),
    ("dataforge_spark.operators.text_cleaning", "clean_text_columns", "operators.text_cleaning"),
    ("dataforge_spark.operators.datetime_parsing", "parse_datetime_columns", "operators.datetime_parsing"),
    ("dataforge_spark.operators.missing_values", "fix_missing_values", "operators.missing_values"),
    ("dataforge_spark.operators.duplicates", "drop_duplicates", "operators.duplicates"),
    ("dataforge_spark.operators.outliers", "handle_outliers", "operators.outliers"),
    ("dataforge_spark.operators.typo_fix", "fix_typos", "operators.typo_fix"),
    ("dataforge_spark.operators.encoding", "encode_label", "operators.encoding"),
    ("dataforge_spark.operators.encoding", "encode_onehot", "operators.encoding"),
    ("dataforge_spark.operators.encoding", "encode_frequency", "operators.encoding"),
    ("dataforge_spark.operators.normalization", "normalize_data", "operators.normalization"),
    ("dataforge_spark.curation", "quality_filter", "curation.quality_filter"),
    ("dataforge_spark.dedup.minhash", "minhash_dedup", "dedup.minhash_dedup"),
]

# Spans whose self time and job count are reported, in report order.
REPORTED_SPANS = [
    "service.upload", "service.clean_data",
    "io.read_csv", "io.write_csv", "io.read_parquet", "io.write_parquet",
    "profile.dataset_info", "profile.missing_counts",
    "pipeline.run", "pipeline.cells_changed",
    "operators.data_type_conversion", "operators.text_cleaning",
    "operators.datetime_parsing", "operators.missing_values",
    "operators.duplicates", "operators.outliers", "operators.typo_fix",
    "operators.encoding", "operators.normalization",
    "curation.quality_filter", "dedup.minhash_dedup",
]
SPARK_COUNTERS = [
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "job_busy_s", "between_jobs_s",
]
# handler spans the HTTP server calls into; the rest of a request's
# client-observed time is the server's own
HANDLER_SPANS = {"service.upload", "service.clean_data", "service.download", "service.delete"}


def per_layer_metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    out = [("session.start_s", "s"), ("http_server.overhead_s", "s")]
    for s in REPORTED_SPANS:
        out += [(f"{s}_s", "s"), (f"{s}_jobs", "count")]
    for c in SPARK_COUNTERS:
        unit = "s" if c.endswith("_s") else ("bytes" if c.endswith("_bytes") else "count")
        out.append((f"spark.{c}", unit))
    out += [("pipeline.persisted_frames", "count"), ("dedup.docs_dropped", "count"),
            ("io.bytes_written", "bytes")]
    return out


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: "Span | None"
    group: str
    end: float = 0.0
    child_s: float = 0.0
    bytes_written: int = 0
    root: "Span | None" = field(default=None, repr=False)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _SpanCtx(self, name)

    def install(self) -> None:
        """Wrap every function in ``TARGETS`` for the rest of the process."""
        for mod_name, path, span_name in TARGETS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            setattr(owner, attr, self._wrap(getattr(owner, attr), span_name))

    def _wrap(self, fn, name: str):
        writes = name.startswith("io.write_")

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if writes:
                path = args[1] if len(args) > 1 else kwargs["path"]
                sp.bytes_written = _tree_bytes(path)
            return out

        return traced


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self) -> Span:
        t = self.t
        stack = t._stack()
        parent = stack[-1] if stack else None
        sid = next(t._ids)
        sp = Span(sid, self.name, 0.0, parent, f"perfbench-{os.getpid()}-{sid}")
        sp.root = parent.root if parent else sp
        self.prev_group = t.sc.getLocalProperty("spark.jobGroup.id")
        t.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        stack.append(sp)
        sp.start = time.perf_counter()
        return sp

    def __exit__(self, *exc) -> None:
        t = self.t
        stack = t._stack()
        sp = stack.pop()
        sp.end = time.perf_counter()
        t.sc.setLocalProperty("spark.jobGroup.id", self.prev_group)
        if sp.parent is not None:
            sp.parent.child_s += sp.end - sp.start
        with t._lock:
            t.spans.append(sp)


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class StatusStore:
    """Job and stage figures from Spark's status store (works with the UI
    off). Call ``drain`` first so the listener has seen every job end."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self._jobs: dict[int, dict] = {}

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def group_jobs(self, group: str) -> list[dict]:
        return [self.job(j) for j in self.sc.statusTracker().getJobIdsForGroup(group)]

    def job(self, job_id: int) -> dict:
        got = self._jobs.get(job_id)
        if got is not None:
            return got
        jd = self.store.job(job_id)
        start = jd.submissionTime().get().getTime() / 1000.0
        done = jd.completionTime()
        end = done.get().getTime() / 1000.0 if done.isDefined() else start
        rec = {"start": start, "end": end, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "spill_bytes": 0}
        for sid in self.sc.statusTracker().getJobInfo(job_id).stageIds:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage the store never saw submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += sd.numTasks()
            rec["executor_run_s"] += sd.executorRunTime() / 1e3
            rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
            rec["spill_bytes"] += sd.diskBytesSpilled()
        self._jobs[job_id] = rec
        return rec


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(tracer: Tracer, window: tuple[float, float], op_span: str,
                  client_requests: list[tuple[float, float]]) -> tuple[dict[str, float], dict]:
    """Per-layer metrics of the spans inside the timed ``window``, each
    per op (an op is one ``op_span`` root span). ``client_requests`` are
    the (start, end) times of the HTTP requests the clients made, if any.
    Returns (metrics, per-span detail with the Spark counters of every
    span name)."""
    store = StatusStore(tracer.sc)
    store.drain()
    lo, hi = window
    spans = [s for s in tracer.spans if s.start >= lo and s.end <= hi]
    ops = [s for s in spans if s.name == op_span and s.parent is None]
    n_ops = max(1, len(ops))
    jobs_of = {s.sid: store.group_jobs(s.group) for s in spans}

    m: dict[str, float] = {}
    detail: dict[str, dict] = {}
    for s in spans:
        d = detail.setdefault(s.name, {"calls": 0, "self_s": 0.0, "jobs": 0,
                                       **{c: 0 for c in SPARK_COUNTERS[1:8]}})
        d["calls"] += 1
        d["self_s"] += s.self_s
        d["jobs"] += len(jobs_of[s.sid])
        for j in jobs_of[s.sid]:
            for c in SPARK_COUNTERS[1:8]:
                d[c] += j[c]
    for name in REPORTED_SPANS:
        d = detail.get(name, {"self_s": 0.0, "jobs": 0})
        m[f"{name}_s"] = d["self_s"] / n_ops
        m[f"{name}_jobs"] = d["jobs"] / n_ops

    per_op = {c: 0.0 for c in SPARK_COUNTERS}
    for op in ops:
        jobs = [j for s in spans if s.root is op for j in jobs_of[s.sid]]
        per_op["jobs"] += len(jobs)
        for c in SPARK_COUNTERS[1:8]:
            per_op[c] += sum(j[c] for j in jobs)
        busy = _union_s([(j["start"], j["end"]) for j in jobs])
        per_op["job_busy_s"] += busy
        per_op["between_jobs_s"] += max(0.0, (op.end - op.start) - busy)
    for c in SPARK_COUNTERS:
        m[f"spark.{c}"] = per_op[c] / n_ops

    handler_s = sum(s.end - s.start for s in spans if s.parent is None and s.name in HANDLER_SPANS)
    request_s = sum(e - s for s, e in client_requests if s >= lo and e <= hi)
    m["http_server.overhead_s"] = (request_s - handler_s) / n_ops if client_requests else 0.0
    m["io.bytes_written"] = sum(s.bytes_written for s in spans) / n_ops
    m["pipeline.persisted_frames"] = float(tracer.sc._jsc.sc().getPersistentRDDs().size())
    return m, detail
