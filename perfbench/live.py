"""stream-live: an open loop at a fixed rate into a continuous query.

A separate generator process (``dropper.py``) drops ``ROWS``-row events
files into a flat drop zone, ``RATE`` files a second for ``--seconds``
seconds, on a schedule that does not wait for the system.  The
pipeline is the reference's demo 2 on events::

    streaming.runner.stream_events
      -> COLUMN_FILTER:event_type:purchase
      -> AGGREGATE:count:event_id:by=user_id
      -> streaming.runner.run_continuous(output_mode="update"), default trigger

An operation is one file.  Its latency runs from the moment it became
visible to the end of the first micro-batch whose cumulative
``numInputRows`` covers it (batch end = progress ``timestamp`` +
``triggerExecution``, from a StreamingQueryListener).  The first
``WARM_FRAC`` of the files are left out of the latency figures.  A
file fails when it is never processed or its latency exceeds
``LIMIT_S``; a final count that differs from the generator's tally
fails every file.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import Counter

import gen
from dropper import tally
from harness import HERE, Run, log, peak_rss_mb
from stats import mean, percentile

RATE = 25.0  # files per second
ROWS = 400  # rows per file: 10k rows/s
WARM_FRAC = 0.25
LIMIT_S = 10.0
TAIL_P = 95.0
PIPELINE = ("COLUMN_FILTER:event_type:purchase", "AGGREGATE:count:event_id:by=user_id")


def start_query(spark, sf_dir: str, name: str):
    from real_time_stream_processing_engine_spark.operators import core
    from real_time_stream_processing_engine_spark.operators.parser import create_operator
    from real_time_stream_processing_engine_spark.streaming import runner

    src = runner.stream_events(spark, sf_dir)
    agg = core.pipe(*(create_operator(s) for s in PIPELINE))(src)
    return runner.run_continuous(agg, name=name, output_mode="update")


def wait_rows(listener, name: str, rows: int, deadline: float) -> bool:
    """Wait until query ``name`` has processed ``rows`` input rows."""
    while time.time() < deadline:
        if sum(b["rows"] for b in listener.snapshot() if b["name"] == name) >= rows:
            return True
        time.sleep(0.05)
    return False


def latencies(files: list[list], batches: list[dict], first_rows: int) -> list[float | None]:
    """Per file (in drop order): batch end that covers it minus its
    creation time, or None when no batch covers it."""
    ends, cum = [], 0
    for b in sorted(batches, key=lambda b: b["batch_id"]):
        cum += b["rows"]
        ends.append((cum, b["end"]))
    out, need, k = [], first_rows, 0
    for _, _, created, rows in files:
        need += rows
        while k < len(ends) and ends[k][0] < need:
            k += 1
        out.append(ends[k][1] - created if k < len(ends) else None)
    return out


def backlog_max(files: list[list], batches: list[dict]) -> int:
    """Largest number of visible but unprocessed dropped files at a
    batch end (file 0, already in place at start, is not counted)."""
    worst, cum = 0, 0
    for b in sorted(batches, key=lambda b: b["batch_id"]):
        cum += b["rows"]
        visible = sum(1 for f in files if f[2] <= b["end"])
        worst = max(worst, visible - max(0, cum - ROWS) // ROWS)
    return worst


def run(r: Run) -> None:
    sf_dir = r.path("live")
    drop = os.path.join(sf_dir, "events.parquet")
    warm_dir = r.path("warm")
    os.makedirs(drop)
    os.makedirs(os.path.join(warm_dir, "events.parquet"))
    # the stream's schema is read from the zone's first file, so file 0
    # is in place before the query starts
    first = gen.events_frame(r.seed, 0, ROWS)
    gen.write_table(first, os.path.join(drop, "part-00000.parquet"))
    for i in range(2):
        gen.write_table(gen.events_frame(r.seed + 1_000_003, i, ROWS),
                        os.path.join(warm_dir, "events.parquet", f"part-{i:05d}.parquet"))
    tables = r.path("data")
    gen.write_tables(tables, r.seed)  # for the calibration anchors

    # ---- set-up: import, session, listener, one warm-up query ---------
    t0 = time.monotonic()
    if r.trace:
        r.start_tracing()
    from spans import ProgressListener

    r.spark = spark = r.get_spark()
    r.listener = listener = ProgressListener()
    spark.streams.addListener(listener)
    wq = start_query(spark, warm_dir, "perfbench_warm")
    ok = wait_rows(listener, "perfbench_warm", 2 * ROWS, time.time() + 120)
    wq.stop()
    if not ok:
        raise RuntimeError("warm-up stream never processed its input")
    r.e2e["setup_s"] = time.monotonic() - t0
    r.anchors("pre", tables)

    # ---- the live run ------------------------------------------------
    name = f"perfbench_live_{r.seed}"
    r.begin_timed()
    if r.trace:
        r.tracer.op = "live"
    t_loop = time.monotonic()
    q = start_query(spark, sf_dir, name)
    if not wait_rows(listener, name, ROWS, time.time() + 60):
        raise RuntimeError("live query never processed its first file")
    log_path = r.path("dropper.json")
    start = time.time() + 1.0
    gen_proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "dropper.py"), "--dir", drop,
         "--seed", str(r.seed), "--rate", str(RATE), "--rows", str(ROWS),
         "--seconds", str(r.seconds), "--start", str(start), "--log", log_path],
    )
    try:
        gen_proc.wait(timeout=r.seconds + 60)
    finally:
        if gen_proc.poll() is None:
            gen_proc.kill()
            gen_proc.wait()
    with open(log_path) as fh:
        dropped = json.load(fh)
    files = dropped["files"]
    total = ROWS * (1 + len(files))
    wait_rows(listener, name, total, files[-1][2] + LIMIT_S)
    q.stop()
    wall = time.monotonic() - t_loop
    if r.trace:
        r.tracer.op = None
        r.bookkeeping(r.exec_reader.collect)
    r.end_timed()

    # ---- per-file outcome and correctness ----------------------------
    batches = [b for b in listener.snapshot() if b["name"] == name]
    lat = latencies(files, batches, ROWS)
    for f, x in zip(files, lat):
        ok = x is not None and x <= LIMIT_S
        r.op(f"file{f[0]}", x, ok, None if ok else f"latency {x}")
    final = {
        str(row[0]): row[1]
        for row in spark.table(name).groupBy("user_id").max("count_event_id").collect()
    }
    want = Counter(dropped["tally"]) + Counter({str(k): v for k, v in tally(first).items()})
    if final != dict(want):
        log(f"MISMATCH final counts: {len(final)} users vs {len(want)} in the tally")
        for o in r.ops:
            o["ok"] = False
    r.anchors("post", tables)

    skip = int(len(files) * WARM_FRAC)
    measured = [x for o, x in zip(r.ops[skip:], lat[skip:]) if o["ok"]]
    # every file is the same kind of operation: its best is the fastest
    # measured file
    r.e2e["op_best_mean_s"] = r.e2e["op_best_gmean_s"] = min(measured)
    r.report["live.latency_mean_s"] = mean(measured)
    r.report["peak_rss_mb"] = peak_rss_mb()
    late_ms = sorted((f[2] - f[1]) * 1000.0 for f in files)
    r.report["live.latency_p50_s"] = percentile(measured, 50)
    r.report[f"live.latency_p{TAIL_P:g}_s"] = percentile(measured, TAIL_P)
    r.report["live.files"] = len(files)
    r.report["live.files_measured"] = len(measured)
    r.report["live.batches"] = len(batches)
    r.report["live.generator_late_ms_max"] = late_ms[-1]
    r.report["live.backlog_files_max"] = backlog_max(files, batches)
    r.report["live.run_wall_s"] = wall
    if r.trace:
        r.finish_tracing(wall, batches, {})
