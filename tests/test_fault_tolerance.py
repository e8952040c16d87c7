"""Fault-tolerance parity tests.

The reference demos recovery by SIGINT-ing the first two stage-2 workers
1.5 s into processing and re-sending unACKed tuples to survivors
(``Node.java:1318-1344``, ``Node.java:1048-1085``).  Spark's equivalents
are task retry (batch) and checkpoint recovery (streaming); these tests
inject failures and assert the answers stay exact — stronger than the
reference, whose retry path can duplicate tuples (unused dedup set,
``Node.java:117``).
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark import TaskContext
from pyspark.sql import functions as F

from real_time_stream_processing_engine_spark.sources.readers import SCHEMAS

from .conftest import SF_SMOKE


def test_task_retry_exactly_once(spark):
    """E7 chaos parity: a task crashes mid-query on its first attempt;
    the retried attempt recomputes its partition and the result is
    exact — no lost rows, no duplicates."""

    def flaky(batches):
        tc = TaskContext.get()
        if tc is not None and tc.partitionId() == 2 and tc.attemptNumber() == 0:
            raise RuntimeError("injected chaos: first attempt of partition 2")
        for pdf in batches:
            yield pdf

    df = spark.range(0, 10_000, 1, 4).mapInPandas(flaky, "id long")
    got = df.agg(
        F.count("*").alias("n"), F.count_distinct("id").alias("nd"), F.sum("id").alias("s")
    ).collect()[0]
    assert (got["n"], got["nd"], got["s"]) == (10_000, 10_000, 49_995_000)


def test_stream_checkpoint_recovery_exactly_once(spark, tmp_path):
    """E5 parity: a streaming job stops, the source redelivers data, and
    the restarted job resumes from the checkpoint — dedup state survives
    the restart, so redelivered tuples change nothing."""
    src_dir = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    src_dir.mkdir()
    events = os.path.join(SF_SMOKE, "events.parquet")
    os.symlink(events, src_dir / "copy_a.parquet")

    def run_round() -> dict[str, int]:
        stream = (
            spark.readStream.schema(SCHEMAS["events"])
            .parquet(str(src_dir))
            .dropDuplicates(["event_id"])
            .groupBy("event_type")
            .agg(F.count("*").alias("cnt"))
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("rs_recovery")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["event_type"]: r["cnt"] for r in spark.table("rs_recovery").collect()
        }

    first = run_round()
    batch = {
        r["event_type"]: r["cnt"]
        for r in spark.read.schema(SCHEMAS["events"])
        .parquet(events)
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert first == batch

    # "failure": the query is down; the source redelivers every tuple
    # (a second copy appears), then the job restarts from the checkpoint.
    os.symlink(events, src_dir / "copy_b.parquet")
    second = run_round()
    # dedup state survived the restart: redelivery is invisible.
    assert second == batch


def test_speculative_duplicate_emission_is_impossible(spark):
    """The reference can emit duplicate results under retry because
    stage-2 both processes and ACKs non-atomically (``Node.java:117``
    dedup set never used).  Spark's ledger: a recomputed partition
    replaces — never adds to — the failed attempt's output.  Run the
    flaky stage under an aggregation that would detect double-counting."""

    def flaky(batches):
        tc = TaskContext.get()
        if tc is not None and tc.partitionId() == 0 and tc.attemptNumber() == 0:
            emitted = False
            for pdf in batches:
                if not emitted:
                    emitted = True
                    yield pdf  # partial output, then crash mid-stream
                raise RuntimeError("injected chaos after partial emission")
        for pdf in batches:
            yield pdf

    df = spark.range(0, 1_000, 1, 2).mapInPandas(flaky, "id long")
    assert df.count() == 1_000


def test_cdc_upsert_recovers_from_sink_crash(spark, sf_dir, tmp_path):
    """E5 for the foreachBatch CDC sink (q69): crash after the first
    micro-batch, restart from the SAME checkpoint + target, and the
    final state must equal an uninterrupted run — the checkpoint
    replays the unfinished batch and the versioned merge makes any
    half-applied work idempotent."""
    from real_time_stream_processing_engine_spark.streaming.runner import (
        stream_cdc_upsert,
    )

    target = str(tmp_path / "cdc_target")
    ckpt = str(tmp_path / "cdc_ckpt")
    # run 1: crashes after one applied batch (injected sink failure)
    with pytest.raises(Exception, match="injected sink crash"):
        stream_cdc_upsert(
            spark, sf_dir, target_path=target, checkpoint=ckpt, fail_after_batches=1
        )
    # run 2: same checkpoint + target -> resumes and completes
    recovered = stream_cdc_upsert(spark, sf_dir, target_path=target, checkpoint=ckpt)
    clean = stream_cdc_upsert(spark, sf_dir)  # fresh uninterrupted run
    assert {tuple(r) for r in recovered.collect()} == {
        tuple(r) for r in clean.collect()
    }


def test_cdc_recovery_through_interrupted_swap(spark, sf_dir, tmp_path):
    """The previously-untested crash window INSIDE replace_contents:
    target renamed aside, replacement not yet renamed in.  On restart
    the runner must recover the swap (the committed generation lives in
    the swap siblings) — reseeding from the pristine dim here would
    silently drop every batch the checkpoint already marked done."""
    import shutil

    from real_time_stream_processing_engine_spark.streaming.runner import (
        stream_cdc_upsert,
    )

    target = str(tmp_path / "cdc_target")
    ckpt = str(tmp_path / "cdc_ckpt")
    with pytest.raises(Exception, match="injected sink crash"):
        stream_cdc_upsert(
            spark, sf_dir, target_path=target, checkpoint=ckpt, fail_after_batches=1
        )
    # simulate the mid-swap crash state: dst missing, (old, tmp) pair present
    tok = "cafe0001"
    shutil.copytree(target, f"{target}__swap_tmp_{tok}")
    os.rename(target, f"{target}__swap_old_{tok}")
    recovered = stream_cdc_upsert(spark, sf_dir, target_path=target, checkpoint=ckpt)
    clean = stream_cdc_upsert(spark, sf_dir)
    assert {tuple(r) for r in recovered.collect()} == {
        tuple(r) for r in clean.collect()
    }
    # and the swap scratch was cleaned up by the recovery
    assert not [
        d for d in os.listdir(tmp_path) if d.startswith("cdc_target__swap_")
    ]


def test_stream_countmin_recovers_from_sink_crash(spark, sf_dir, tmp_path):
    """q105's exactly-once for NON-idempotent (additive) state: crash
    before the first apply, restart from the same checkpoint + target —
    the replayed batch applies exactly once and the final sketch equals
    the batch-built sketch."""
    import pytest

    from real_time_stream_processing_engine_spark.operators.sketches import (
        countmin_build,
    )
    from real_time_stream_processing_engine_spark.sources.readers import load_table
    from real_time_stream_processing_engine_spark.streaming.runner import (
        stream_countmin,
    )

    target = str(tmp_path / "cms_target")
    ckpt = str(tmp_path / "cms_ckpt")
    with pytest.raises(Exception):
        stream_countmin(
            spark, sf_dir, target_path=target, checkpoint=ckpt,
            fail_after_batches=0,
        )
    streamed = stream_countmin(
        spark, sf_dir, target_path=target, checkpoint=ckpt
    )
    batch = countmin_build(
        load_table(spark, sf_dir, "events").select(
            F.col("user_id").cast("string").alias("tok")
        )
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_countmin_rerun_is_ledger_noop(spark, sf_dir, tmp_path):
    """Replaying against an already-complete target from the SAME
    checkpoint must change nothing (the last_batch ledger makes each
    replayed batch a whole-batch no-op), and re-running from a FOREIGN
    checkpoint must refuse loudly: batch ids are checkpoint-local, so
    the r7 ledger records its checkpoint and a mismatch would silently
    skip or double-apply batches (the old form of this test passed
    only because identical sources happened to reuse the same ids)."""
    import pytest

    from real_time_stream_processing_engine_spark.streaming.runner import (
        stream_countmin,
    )

    target = str(tmp_path / "cms_target2")
    ck = str(tmp_path / "ck_a")
    first = sorted(
        map(
            tuple,
            stream_countmin(
                spark, sf_dir, target_path=target, checkpoint=ck
            ).collect(),
        )
    )
    second = sorted(
        map(
            tuple,
            stream_countmin(
                spark, sf_dir, target_path=target, checkpoint=ck
            ).collect(),
        )
    )
    assert first == second
    with pytest.raises(Exception, match="checkpoint-local"):
        stream_countmin(
            spark, sf_dir, target_path=target,
            checkpoint=str(tmp_path / "ck_b"),
        ).collect()


def test_chained_stateful_wau_recovers_and_dedups(spark, tmp_path):
    """q136's CHAINED multi-stateful pipeline (explode-to-covers ->
    watermarked dedup -> tumbling count) stops, the source redelivers
    every tuple, and the restart resumes from the checkpoint — BOTH
    state stores (dedup + window agg) survive, so the redelivered copy
    changes nothing and stream end still equals the batch
    cover-expansion answer."""
    src_dir = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    src_dir.mkdir()
    events = os.path.join(SF_SMOKE, "events.parquet")
    os.symlink(events, src_dir / "copy_a.parquet")

    def pipeline(df):
        covered = df.select(
            F.explode(
                F.sequence(
                    F.date_trunc("day", F.col("ts")),
                    F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 6 DAYS"),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("cover_day"),
            "user_id",
        )
        uniq = covered.withWatermark(
            "cover_day", "2 hours"
        ).dropDuplicatesWithinWatermark(["cover_day", "user_id"])
        return (
            uniq.groupBy(F.window("cover_day", "1 day").alias("w"))
            .agg(F.count("*").alias("wau"))
            .select(
                (F.unix_timestamp(F.col("w.start")) / 86400)
                .cast("long")
                .alias("day"),
                "wau",
            )
        )

    def run_round() -> dict[int, int]:
        agg = pipeline(
            spark.readStream.schema(SCHEMAS["events"]).parquet(str(src_dir))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("rs_wau_recovery")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["day"]: r["wau"]
            for r in spark.table("rs_wau_recovery").collect()
        }

    batch_df = spark.read.schema(SCHEMAS["events"]).parquet(events)
    batch = {
        r["day"]: r["wau"]
        for r in (
            batch_df.select(
                F.explode(
                    F.sequence(
                        F.date_trunc("day", F.col("ts")),
                        F.date_trunc("day", F.col("ts"))
                        + F.expr("INTERVAL 6 DAYS"),
                        F.expr("INTERVAL 1 DAY"),
                    )
                ).alias("cover_day"),
                "user_id",
            )
            .distinct()
            .groupBy(
                (F.unix_timestamp(F.date_trunc("day", F.col("cover_day"))) / 86400)
                .cast("long")
                .alias("day")
            )
            .agg(F.count("*").alias("wau"))
            .collect()
        )
    }
    assert run_round() == batch

    # crash window: the query is down and the source redelivers
    # EVERYTHING; restart resumes both state stores from the checkpoint
    os.symlink(events, src_dir / "copy_b.parquet")
    assert run_round() == batch


def test_stream_binned_counts_recovers_from_sink_crash(spark, sf_dir, tmp_path):
    """q162's maintained distribution bins follow the q105 additive
    exactly-once recipe: crash before the first apply, restart from
    the same checkpoint + target — replayed batches apply exactly
    once and the maintained counts equal the batch aggregation."""
    import pytest

    from real_time_stream_processing_engine_spark.sources.readers import load_table
    from real_time_stream_processing_engine_spark.streaming.runner import (
        stream_binned_counts,
    )

    target = str(tmp_path / "psi_target")
    ckpt = str(tmp_path / "psi_ckpt")
    with pytest.raises(Exception):
        stream_binned_counts(
            spark, sf_dir, target_path=target, checkpoint=ckpt,
            fail_after_batches=0,
        )
    streamed = stream_binned_counts(
        spark, sf_dir, target_path=target, checkpoint=ckpt
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.least(F.lit(9), F.floor(F.col("value") / 10.0))
            .cast("long")
            .alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_bitmap_dau_rerun_is_idempotent(spark, sf_dir, tmp_path):
    """q171's bitmap OR-merge needs NO ledger: re-running the whole
    stream against the SAME target (fresh checkpoint, so every batch
    replays) ORs already-set bits and the DAU is unchanged — exactly-
    once by algebraic idempotence."""
    from real_time_stream_processing_engine_spark.sources.readers import load_table
    from real_time_stream_processing_engine_spark.streaming.runner import (
        stream_bitmap_dau,
    )

    target = str(tmp_path / "dau_target")

    def dau(words):
        return sorted(
            (r.day, r.dau)
            for r in words.groupBy("day")
            .agg(F.sum(F.bit_count("bits")).alias("dau"))
            .collect()
        )

    first = dau(stream_bitmap_dau(
        spark, sf_dir, target_path=target, checkpoint=str(tmp_path / "c1")
    ))
    # full redelivery: fresh checkpoint replays every batch into the
    # SAME maintained table
    second = dau(stream_bitmap_dau(
        spark, sf_dir, target_path=target, checkpoint=str(tmp_path / "c2")
    ))
    assert first == second
    batch = sorted(
        (r.day, r.dau)
        for r in load_table(spark, sf_dir, "events")
        .select(
            F.floor(F.unix_timestamp("ts") / F.lit(86400))
            .cast("long")
            .alias("day"),
            "user_id",
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("dau"))
        .collect()
    )
    assert first == batch
