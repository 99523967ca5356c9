"""Spans and Spark counters for the benchmark's traced run.

Spans are recorded from the benchmark's side of each layer boundary:
the public functions of `io`, `sources` (via `operators.ingest`),
`sinks` and `run` are wrapped in place for the traced process, and the
benchmark opens spans around the query functions it calls (`operators`)
and around set-up (`session`, `registry`). Spark jobs are read from the
JVM status store after each operation, by job group, and become child
spans of that operation. A span's self time is its duration minus the
part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# (module, function, span name): the layer boundaries wrapped in place.
WRAPPED = [
    ("cuttlefish_spark.io", "load_table", "io.load_table"),
    ("cuttlefish_spark.operators.ingest", "datasource_canonical", "sources.fetch"),
    ("cuttlefish_spark.sinks.json_sink", "write_keyed_json", "sinks.write_keyed_json"),
    ("cuttlefish_spark.run", "append_log", "run.append_log"),
]
MB = 1024.0 * 1024.0


class Op:
    def __init__(self, name: str, group: str):
        self.name, self.group = name, group
        self.built_ms: float | None = None

    def mark_built(self) -> None:
        """Jobs submitted before this call count as build jobs."""
        self.built_ms = time.time() * 1000.0


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.errors: list[str] = []
        self._stack: list[int] = []
        self._pass: dict | None = None
        self._n_ops = 0
        # perf_counter = epoch seconds - offset
        self._offset = time.time() - time.perf_counter()

    # -- spans ---------------------------------------------------------
    def add(self, name: str, start: float, end: float, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                           "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        sid = self.add(name, time.perf_counter(), None, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def install(self) -> None:
        """Wrap each WRAPPED function in every engine module that holds
        a reference to it, so calls made through `from x import f` names
        are traced too."""
        for mod_name, attr, span_name in WRAPPED:
            __import__(mod_name)
            orig = getattr(sys.modules[mod_name], attr)
            wrapped = self._wrap(orig, span_name)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith("cuttlefish_spark")
                        and getattr(mod, attr, None) is orig):
                    setattr(mod, attr, wrapped)

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._pass is None:  # an untraced pass
                return fn(*args, **kwargs)
            with self.span(span_name):
                return fn(*args, **kwargs)
        return traced

    # -- operations and their Spark jobs --------------------------------
    @contextmanager
    def op(self, sc, name: str):
        self._n_ops += 1
        op = Op(name, f"perfbench-op-{self._n_ops}")
        sc.setJobGroup(op.group, name)
        try:
            with self.span("op", op=name) as rec:
                yield op
        finally:
            sc.setJobGroup("", "")
        self._read_jobs(sc, op, rec)

    def _read_jobs(self, sc, op: Op, rec: dict) -> None:
        store = sc._jsc.sc().statusStore()
        stats = self._pass
        op_start, op_end = rec["start"], rec["end"]
        intervals = []
        for job_id in sorted(sc.statusTracker().getJobIdsForGroup(op.group)):
            try:
                job = store.job(job_id)
            except Py4JJavaError as exc:  # NoSuchElementException
                self.errors.append(f"{op.name}: job {job_id} not in status store ({exc})")
                continue
            sub = job.submissionTime().get().getTime()
            end = job.completionTime().get().getTime() if job.completionTime().isDefined() else sub
            start_pc, end_pc = sub / 1000.0 - self._offset, end / 1000.0 - self._offset
            intervals.append((max(start_pc, op_start), min(end_pc, op_end)))
            if op.built_ms is not None:  # an operator: split build from action
                stats["build_jobs" if sub < op.built_ms else "action_jobs"] += 1
            stats["jobs"] += 1
            self.spans.append({"id": len(self.spans), "name": "spark.job", "parent": rec["id"],
                               "start": start_pc, "end": end_pc, "job_id": job_id,
                               "tasks": job.numTasks() - job.numSkippedTasks()})
            ids = job.stageIds()
            for k in range(ids.size()):
                self._read_stage(store, ids.apply(k), op, stats)
        stats["gap_s"] += (op_end - op_start) - _union(intervals)

    def _read_stage(self, store, stage_id: int, op: Op, stats: dict) -> None:
        try:
            st = store.lastStageAttempt(stage_id)
        except Py4JJavaError as exc:  # NoSuchElementException
            self.errors.append(f"{op.name}: stage {stage_id} not in status store ({exc})")
            return
        if str(st.status()) == "SKIPPED":
            return
        stats["stages"] += 1
        stats["tasks"] += st.numTasks()
        stats["failed_tasks"] += st.numFailedTasks()
        stats["executor_run_ms"] += st.executorRunTime()
        stats["executor_cpu_ns"] += st.executorCpuTime()
        stats["input_bytes"] += st.inputBytes()
        stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
        stats["shuffle_records"] += st.shuffleWriteRecords()
        stats["shuffle_read_bytes"] += st.shuffleReadBytes()
        stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        stats["gc_ms"] += st.jvmGcTime()

    # -- per-pass metrics -----------------------------------------------
    def begin_pass(self) -> None:
        self._first_span = len(self.spans)
        self._pass = dict.fromkeys(
            ["build_jobs", "action_jobs", "jobs", "stages", "tasks", "failed_tasks",
             "executor_run_ms", "executor_cpu_ns", "input_bytes", "shuffle_write_bytes",
             "shuffle_records", "shuffle_read_bytes", "spill_bytes", "gc_ms", "gap_s"], 0)

    def end_pass(self) -> dict:
        """Per-layer metrics of the pass since begin_pass()."""
        s, self._pass = self._pass, None
        spans = self.spans[self._first_span:]
        # Fetch tasks: tasks of the jobs submitted inside sources.fetch.
        fetch = [x for x in spans if x["name"] == "sources.fetch"]
        fetch_tasks = sum(job["tasks"] for job in spans if job["name"] == "spark.job"
                          and any(f["start"] <= job["start"] <= f["end"] for f in fetch))
        pipeline = [x for x in spans if x["name"] == "run.pipeline"]
        return {
            "operators.build_s": _total(spans, "operators.build"),
            "operators.build_jobs": s["build_jobs"],
            "operators.action_s": _total(spans, "operators.action"),
            "operators.action_jobs": s["action_jobs"],
            "driver.gap_s": s["gap_s"],
            "spark.jobs": s["jobs"],
            "spark.stages": s["stages"],
            "spark.tasks": s["tasks"],
            "spark.failed_tasks": s["failed_tasks"],
            "spark.executor_run_s": s["executor_run_ms"] / 1000.0,
            "spark.executor_cpu_s": s["executor_cpu_ns"] / 1e9,
            "spark.input_mb": s["input_bytes"] / MB,
            "spark.shuffle_write_mb": s["shuffle_write_bytes"] / MB,
            "spark.shuffle_records": s["shuffle_records"],
            "spark.shuffle_read_mb": s["shuffle_read_bytes"] / MB,
            "spark.spill_mb": s["spill_bytes"] / MB,
            "spark.jvm_gc_s": s["gc_ms"] / 1000.0,
            "io.load_table_calls": sum(1 for x in spans if x["name"] == "io.load_table"),
            "io.load_table_s": _total(spans, "io.load_table"),
            "sources.fetch_s": _total(spans, "sources.fetch"),
            "sources.fetch_tasks": fetch_tasks,
            "sinks.write_keyed_json_s": _total(spans, "sinks.write_keyed_json"),
            "run.append_log_s": _total(spans, "run.append_log"),
            "run.self_s": sum(self_time(self.spans, p) for p in pipeline),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "errors": self.errors}, fh)


def _total(spans: list[dict], name: str) -> float:
    return sum(x["end"] - x["start"] for x in spans if x["name"] == name)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(spans: list[dict], span: dict) -> float:
    """Duration of `span` minus the union of its direct children."""
    kids = [(x["start"], x["end"]) for x in spans if x["parent"] == span["id"]]
    kids = [(max(a, span["start"]), min(b, span["end"])) for a, b in kids]
    return (span["end"] - span["start"]) - _union(kids)
