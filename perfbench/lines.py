"""rainstorm-lines: the paper's own job, as a closed loop with one client.

A seeded corpus of Traffic_Signs-style CSV lines and prose lines is
split into chunk files (the leader's per-worker chunks).  Each
operation submits one RAINSTORM command through
``operators.parser.run_command`` and writes its result with
``sinks.writers.write_results_with_provenance`` (results plus tuple
log).  The seed permutes the command order of each cycle; the loop runs
whole cycles until ``--seconds`` have passed and at least ``MIN_JOBS``
jobs ran.  The run ends with ``catalog.ls`` over the store and
``catalog.merge`` of one result set.

Correctness: every command's last result, read back from the store, is
compared with a pure-Python recount over the generated lines.
"""

from __future__ import annotations

import os
import random
import re
import time
from collections import Counter

import gen
from harness import Run, log, peak_rss_mb
from layers import dir_bytes_files
from stats import bests, gmean, mean, percentile, supported

N_LINES = 20_000
N_CHUNKS = 4
WARM_CYCLES = 1
MIN_JOBS = 36  # nine cycles of the four commands

#: kind -> (operator tokens, python recount of the expected output)
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _words(line: str) -> list[str]:
    return [w for w in _WS.split(line) if w]


def _expect_filter_map(pattern: str, fn):
    p = pattern.lower()
    return lambda lines: Counter(fn(ln) for ln in lines if p in ln.lower())


def _expect_wordcount(lines):
    return Counter(w for ln in lines for w in _words(ln))


def _expect_filter_words(pattern: str):
    p = pattern.lower()
    return lambda lines: Counter(w for ln in lines if p in ln.lower() for w in _words(ln))


COMMANDS = {
    "filter_upper": ('"FILTER:Stop" "TRANSFORM:uppercase"',
                     _expect_filter_map("Stop", str.upper)),
    "filtered_lower": ('"FILTERED_TRANSFORM:Telespar:lowercase"',
                       _expect_filter_map("Telespar", str.lower)),
    "word_count": ('"TRANSFORM:splitintowords" "AGGREGATE:count:word:by=word"',
                   _expect_wordcount),
    "filter_words": ('"FILTER:school" "TRANSFORM:splitintowords"',
                     _expect_filter_words("school")),
}


def command(ops: str, input_dir: str) -> str:
    return f"RAINSTORM {ops} {input_dir} {N_CHUNKS}"


def observed(spark, kind: str, path: str) -> Counter:
    """The stored result as a multiset comparable with the recount."""
    df = spark.read.parquet(path)
    if kind == "word_count":
        return Counter({r["word"]: r["count_word"] for r in df.collect()})
    col = "word" if kind == "filter_words" else "value"
    return Counter(r[0] for r in df.select(col).collect())


def run(r: Run) -> None:
    t_gen = time.monotonic()
    corpus = r.path("corpus")
    lines = gen.write_corpus(corpus, r.seed, N_LINES, N_CHUNKS)
    sf_dir = r.path("data")
    gen.write_tables(sf_dir, r.seed)  # for the calibration anchors
    kinds = list(COMMANDS)
    rnd = random.Random(r.seed)
    log(f"inputs made in {time.monotonic() - t_gen:.3f}s: {N_LINES} lines in {N_CHUNKS} chunks")

    store = r.path("store")

    def results(kind: str) -> tuple[str, str]:
        return os.path.join(store, kind, "results"), os.path.join(store, kind, "tuples")

    # ---- set-up: import, session, warm-up cycles of the commands -------
    t0 = time.monotonic()
    if r.trace:
        r.start_tracing()
    from real_time_stream_processing_engine_spark.operators import parser
    from real_time_stream_processing_engine_spark.sinks import writers
    from real_time_stream_processing_engine_spark.sources import catalog

    r.spark = spark = r.get_spark()
    for kind in kinds * WARM_CYCLES:
        df = parser.run_command(spark, command(COMMANDS[kind][0], corpus))
        writers.write_results_with_provenance(df, *results(kind))
    r.e2e["setup_s"] = time.monotonic() - t0
    r.anchors("pre", sf_dir)

    # ---- timed loop --------------------------------------------------
    written = {"bytes": 0, "files": 0}
    sc = spark.sparkContext
    r.begin_timed()
    t_loop = time.monotonic()
    job = 0
    while True:
        rnd.shuffle(kinds)
        for kind in kinds:
            job += 1
            name = f"job{job}:{kind}"
            if r.trace:
                r.tracer.op = name
                sc.setJobGroup(name, name)
            t_job = time.monotonic()
            try:
                df = parser.run_command(spark, command(COMMANDS[kind][0], corpus))
                writers.write_results_with_provenance(df, *results(kind))
                rec = r.op(name, time.monotonic() - t_job, True)
            except Exception as e:  # a failing job is a failed operation
                rec = r.op(name, time.monotonic() - t_job, False,
                           f"{type(e).__name__}: {str(e)[:300]}")
            rec["kind"] = kind
            if r.trace:
                r.tracer.op = None
                r.bookkeeping(r.exec_reader.collect)
                for p in results(kind):
                    b, f = r.bookkeeping(dir_bytes_files, p)
                    written["bytes"] += b
                    written["files"] += f
        if time.monotonic() - t_loop >= r.seconds and job >= MIN_JOBS:
            break
    wall = time.monotonic() - t_loop
    r.end_timed()

    # ---- the store: listing and compaction ----------------------------
    if r.trace:
        r.tracer.op = "store"
    listing = [e for k in COMMANDS for e in catalog.ls(spark, os.path.join(store, k))]
    merge_kind = sorted(COMMANDS)[r.seed % len(COMMANDS)]
    t_merge = time.monotonic()
    catalog.merge(spark, results(merge_kind)[0])
    r.report["rs.catalog_merge_s"] = time.monotonic() - t_merge
    r.report["rs.store_entries"] = len(listing)
    if r.trace:
        r.tracer.op = None
        r.bookkeeping(r.exec_reader.collect)

    # ---- correctness (untimed) ---------------------------------------
    bad = set()
    for kind in COMMANDS:
        res, tup = results(kind)
        want = COMMANDS[kind][1](lines)
        got = observed(spark, kind, res)
        if got != want:
            bad.add(kind)
            log(f"MISMATCH {kind}: {sum(got.values())} vs expected {sum(want.values())} rows")
        if kind != "word_count" and spark.read.parquet(tup).count() != sum(want.values()):
            bad.add(kind)
            log(f"MISMATCH {kind}: tuple log rows differ from results")
    for o in r.ops:
        if o.get("kind") in bad:
            o["ok"] = False
    r.anchors("post", sf_dir)

    # each command kind's best job; the kinds weigh the same
    best = bests(r.ops, "kind")
    r.e2e["op_best_mean_s"] = mean(best)
    r.e2e["op_best_gmean_s"] = gmean(best)
    lat = [o["latency"] for o in r.ops]
    r.report["rs.job_mean_s"] = mean(lat)
    r.report["peak_rss_mb"] = peak_rss_mb()
    r.report["rs.lines_per_s"] = N_LINES * sum(o["ok"] for o in r.ops) / wall
    if supported(len(lat), 50.0):
        r.report["rs.job_p50_s"] = percentile(lat, 50)
    for kind in COMMANDS:
        r.report[f"rs.{kind}_mean_s"] = mean([o["latency"] for o in r.ops if o["kind"] == kind])
    r.report["rs.jobs"] = len(r.ops)
    r.report["rs.loop_wall_s"] = wall
    if r.trace:
        r.finish_tracing(wall, [], {
            "sinks.bytes_written_mb": written["bytes"] / 1e6,
            "sinks.files_written": written["files"],
        })
