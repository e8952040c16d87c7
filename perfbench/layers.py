"""Per-layer figures of a traced run, assembled from the tracer's spans,
Spark's status store and the streaming progress listener.

Every per-layer metric is reported by every workload; a layer the
workload never calls reads 0.
"""

from __future__ import annotations

import os

from stats import mean


def top_total(spans, names: set[str], op_only: bool = True) -> tuple[int, float]:
    """(calls, seconds) of spans named in ``names`` that have no
    ancestor also named in ``names`` (a wrapper calling a wrapped
    function is counted once)."""
    calls, total = 0, 0.0
    for sp in spans:
        if sp.end is None or sp.name not in names or (op_only and sp.op is None):
            continue
        p = sp.parent
        while p is not None and p.name not in names:
            p = p.parent
        if p is None:
            calls += 1
            total += sp.dur
    return calls, total


def batch_summary(batches: list[dict]) -> dict[str, float]:
    """Mean micro-batch phase durations (ms) and state figures."""
    out = {
        "streaming.batches": len(batches),
        "streaming.batch_ms_mean": 0.0,
        "streaming.add_batch_ms_mean": 0.0,
        "streaming.query_planning_ms_mean": 0.0,
        "streaming.wal_commit_ms_mean": 0.0,
        "streaming.commit_offsets_ms_mean": 0.0,
        "streaming.latest_offset_ms_mean": 0.0,
        "streaming.state_commit_ms_mean": 0.0,
        "streaming.state_partitions": 0,
        "streaming.state_memory_mb": 0.0,
        "streaming.empty_batch_frac": 0.0,
    }
    if not batches:
        return out
    phases = {
        "streaming.batch_ms_mean": "triggerExecution",
        "streaming.add_batch_ms_mean": "addBatch",
        "streaming.query_planning_ms_mean": "queryPlanning",
        "streaming.wal_commit_ms_mean": "walCommit",
        "streaming.commit_offsets_ms_mean": "commitOffsets",
        "streaming.latest_offset_ms_mean": "latestOffset",
    }
    for metric, key in phases.items():
        out[metric] = mean([float(b["ms"].get(key, 0)) for b in batches])
    out["streaming.state_commit_ms_mean"] = mean(
        [float(sum(s["commit_ms"] for s in b["state"])) for b in batches]
    )
    out["streaming.state_partitions"] = max(
        (s["partitions"] for b in batches for s in b["state"]), default=0
    )
    out["streaming.state_memory_mb"] = max(
        sum(s["memory_bytes"] for s in b["state"]) for b in batches
    ) / 1e6
    out["streaming.empty_batch_frac"] = sum(1 for b in batches if b["rows"] == 0) / len(batches)
    return out


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, hidden and marker files excluded."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


def assemble(run, wall_s: float, batches: list[dict], extra: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric from the run's tracer, exec reader and
    listener batches; ``extra`` supplies the workload-specific ones."""
    tr = run.tracer
    spans = tr.spans
    ex = run.exec_reader.totals
    out: dict[str, float] = {
        "queries.build_self_s": 0.0,
        "queries.build_py4j_calls": 0,
        "queries.plan_s": 0.0,
        "sinks.bytes_written_mb": 0.0,
        "sinks.files_written": 0,
    }
    out["session.get_spark_s"] = top_total(spans, {"get_spark"}, op_only=False)[1]
    n, s = top_total(spans, {"load_table"})
    out["sources.load_table_calls"], out["sources.load_table_s"] = n, s
    out["sources.read_text_lines_s"] = top_total(spans, {"read_text_lines"})[1]
    out["sources.catalog_ls_s"] = top_total(spans, {"catalog_ls"})[1]
    out["sources.catalog_merge_s"] = top_total(spans, {"catalog_merge"})[1]
    n, s = top_total(spans, {"lineage_cut"})
    out["functions.lineage_cut_calls"], out["functions.lineage_cut_s"] = n, s
    out["operators.parse_s"] = top_total(spans, {"parse_command", "create_operator"})[1]
    out["sinks.write_s"] = top_total(spans, {"write_results", "write_with_provenance"})[1]
    out["streaming.drain_s"] = top_total(spans, {"drain"})[1]
    out.update(batch_summary(batches))
    out["exec.task_run_s"] = ex["task_run_s"]
    out["exec.task_cpu_s"] = ex["task_cpu_s"]
    out["exec.gc_s"] = ex["gc_s"]
    out["exec.shuffle_write_mb"] = ex["shuffle_write_mb"]
    out["exec.shuffle_read_mb"] = ex["shuffle_read_mb"]
    out["exec.spill_mb"] = ex["spill_mb"]
    out["exec.jobs"] = ex["jobs"]
    out["exec.tasks"] = ex["tasks"]
    out["exec.core_idle_frac"] = max(0.0, 1.0 - ex["task_run_s"] / (wall_s * run.cores))
    out["exec.failed_task_frac"] = ex["failed_tasks"] / max(ex["tasks"], 1)
    out["py4j.calls"] = run.py4j_timed
    out["trace.self_s"] = run.trace_self_s
    out.update(extra)
    return out
