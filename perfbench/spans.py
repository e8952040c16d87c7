"""Spans, counters and Spark status readers for the benchmark.

Everything here wraps the program from the outside: public functions
are replaced, for the length of a traced run, by wrappers that record a
span around the original call.  A function is wrapped where callers
look it up, so a module that bound it by name at import (``queries``
binds ``load_table``; ``operators.text`` and ``operators.bpe`` bind
``lineage_cut``) gets its own wrapper.

A span is ``(name, layer, start, end, parent, op)``.  A layer's self
time is the time its spans cover minus the time their child spans
cover.  Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "op", "py4j", "child_s")

    def __init__(self, name, layer, start, parent, op):
        self.name, self.layer, self.start = name, layer, start
        self.end = None
        self.parent, self.op = parent, op
        self.py4j = 0
        self.child_s = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """In-memory span recorder with a py4j round-trip counter.

    One tracer per traced run; :meth:`close` restores every wrapped
    function and the py4j connection class."""

    def __init__(self):
        self.spans: list[Span] = []
        self.op: str | None = None
        self.py4j_calls = 0
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        sp = Span(name, layer, time.time(), parent, self.op)
        self.spans.append(sp)
        st.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        st.pop()
        if sp.parent is not None:
            sp.parent.child_s += sp.dur

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = self.begin(name, layer)
        try:
            yield sp
        finally:
            self.end(sp)

    # -- wrapping ------------------------------------------------------

    def wrap(self, module: str, attr: str, name: str, layer: str) -> None:
        """Replace ``module.attr`` by a span-recording wrapper."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            sp = self.begin(name, layer)
            try:
                return orig(*a, **kw)
            finally:
                self.end(sp)

        self._patched.append((mod, attr, orig))
        setattr(mod, attr, wrapper)

    def count_py4j(self) -> None:
        """Count every py4j command sent, charged to the open spans."""
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *a, _orig=orig, **kw):
                self.py4j_calls += 1
                st = getattr(self._local, "stack", None)
                if st:
                    for sp in st:
                        sp.py4j += 1
                return _orig(conn, command, *a, **kw)

            self._patched.append((cls, "send_command", orig))
            cls.send_command = send_command

    def close(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()

    # -- summaries -----------------------------------------------------

    def by_layer(self) -> dict[str, float]:
        """Self time per layer over every finished span."""
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.end is not None:
                out[sp.layer] = out.get(sp.layer, 0.0) + sp.self_s
        return out

    def dump(self, path: str) -> None:
        index = {id(sp): i for i, sp in enumerate(self.spans)}
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "name": sp.name, "layer": sp.layer, "start": sp.start,
                    "end": sp.end, "op": sp.op, "py4j": sp.py4j,
                    "parent": index.get(id(sp.parent)) if sp.parent else None,
                }) + "\n")


#: (module, attribute, span name, layer) for every public entry point a
#: traced run wraps.  Listed per binding site, not per definition.
WRAPS = [
    ("real_time_stream_processing_engine_spark.session", "get_spark", "get_spark", "session"),
    ("real_time_stream_processing_engine_spark.sources.readers", "load_table", "load_table", "sources"),
    ("real_time_stream_processing_engine_spark.queries", "load_table", "load_table", "sources"),
    ("real_time_stream_processing_engine_spark.sources.readers", "read_text_lines", "read_text_lines", "sources"),
    ("real_time_stream_processing_engine_spark.sources.readers", "read_schema_for", "read_schema_for", "sources"),
    ("real_time_stream_processing_engine_spark.streaming.runner", "read_schema_for", "read_schema_for", "sources"),
    ("real_time_stream_processing_engine_spark.sources.catalog", "ls", "catalog_ls", "sources"),
    ("real_time_stream_processing_engine_spark.sources.catalog", "merge", "catalog_merge", "sources"),
    ("real_time_stream_processing_engine_spark.sources.catalog", "replace_contents", "catalog_replace", "sources"),
    ("real_time_stream_processing_engine_spark.functions.lineage", "lineage_cut", "lineage_cut", "functions"),
    ("real_time_stream_processing_engine_spark.operators.text", "lineage_cut", "lineage_cut", "functions"),
    ("real_time_stream_processing_engine_spark.operators.bpe", "lineage_cut", "lineage_cut", "functions"),
    ("real_time_stream_processing_engine_spark.operators.parser", "parse_command", "parse_command", "operators"),
    ("real_time_stream_processing_engine_spark.operators.parser", "create_operator", "create_operator", "operators"),
    ("real_time_stream_processing_engine_spark.queries", "create_operator", "create_operator", "operators"),
    ("real_time_stream_processing_engine_spark.operators.parser", "run_command", "run_command", "operators"),
    ("real_time_stream_processing_engine_spark.streaming.runner", "run_to_memory_available_now", "drain", "streaming"),
    ("real_time_stream_processing_engine_spark.streaming.runner", "run_continuous", "run_continuous", "streaming"),
    ("real_time_stream_processing_engine_spark.streaming.runner", "stream_events", "stream_events", "streaming"),
    ("real_time_stream_processing_engine_spark.sinks.writers", "write_results", "write_results", "sinks"),
    ("real_time_stream_processing_engine_spark.sinks.writers", "write_results_with_provenance", "write_with_provenance", "sinks"),
]


def install(tracer: Tracer) -> None:
    for mod, attr, name, layer in WRAPS:
        tracer.wrap(mod, attr, name, layer)
    tracer.count_py4j()


# ----------------------------------------------------------------------
# streaming progress


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's progress as a plain dict.  Batch end
    is the progress ``timestamp`` (trigger start) plus
    ``triggerExecution``."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = dict(p.durationMs or {})
        start = _epoch(p.timestamp)
        rec = {
            "name": p.name,
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "start": start,
            "end": start + d.get("triggerExecution", 0) / 1000.0,
            "rows": p.numInputRows,
            "ms": d,
            "state": [
                {
                    "partitions": s.numShufflePartitions,
                    "memory_bytes": s.memoryUsedBytes,
                    "commit_ms": s.commitTimeMs,
                    "rows_total": s.numRowsTotal,
                }
                for s in (p.stateOperators or [])
            ],
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.batches)


# ----------------------------------------------------------------------
# Spark's own execution record


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class ExecReader:
    """Reads jobs and stages from Spark's status store (works with the
    UI off).  Call :meth:`collect` after each operation so no job is
    evicted from the store's retention window; each stage is counted
    once."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.seen_jobs: set[int] = set()
        self.seen_stages: set[int] = set()
        self.jobs: list[dict] = []
        self.totals = {
            "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
            "jobs": 0, "tasks": 0, "failed_tasks": 0,
        }

    def skip_existing(self) -> None:
        """Mark every job run so far (warm-up, set-up) as seen."""
        self.collect(record=False)

    def collect(self, record: bool = True) -> list[dict]:
        new = []
        jl = self.store.jobsList(None)
        for i in range(jl.size()):
            jd = jl.apply(i)
            jid = jd.jobId()
            if jid in self.seen_jobs or str(jd.status()) == "RUNNING":
                continue
            self.seen_jobs.add(jid)
            if not record:
                continue
            grp = jd.jobGroup()
            job = {
                "id": jid,
                "group": grp.get() if grp.isDefined() else None,
                "start": _opt_ms(jd.submissionTime()),
                "end": _opt_ms(jd.completionTime()),
            }
            sids = jd.stageIds()
            for k in range(sids.size()):
                self._stage(int(sids.apply(k)))
            self.totals["jobs"] += 1
            new.append(job)
        self.jobs.extend(new)
        return new

    def _stage(self, sid: int) -> None:
        if sid in self.seen_stages:
            return
        self.seen_stages.add(sid)
        try:
            st = self.store.lastStageAttempt(sid)
        except Exception:  # stage never ran (skipped) or was evicted
            return
        if str(st.status()) == "SKIPPED":
            return
        t = self.totals
        t["task_run_s"] += st.executorRunTime() / 1000.0
        t["task_cpu_s"] += st.executorCpuTime() / 1e9
        t["gc_s"] += st.jvmGcTime() / 1000.0
        t["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        t["shuffle_read_mb"] += (st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / 1e6
        t["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        t["tasks"] += st.numTasks()
        t["failed_tasks"] += st.numFailedTasks()


def job_seconds(jobs: list[dict], group: str, outside: list[tuple[float, float]] = ()) -> float:
    """Wall time covered by ``group``'s jobs (intervals merged), minus
    the parts inside any of the ``outside`` intervals."""
    iv = sorted((j["start"], j["end"]) for j in jobs
                if j["group"] == group and j["start"] is not None and j["end"] is not None)
    merged: list[list[float]] = []
    for s, e in iv:
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    total = 0.0
    for s, e in merged:
        cut = sum(max(0.0, min(e, oe) - max(s, os_)) for os_, oe in outside)
        total += max(0.0, (e - s) - cut)
    return total
