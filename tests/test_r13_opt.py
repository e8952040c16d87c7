"""Round-13 optimization pins.

- lineage_cut posture knob: local by default, reliable checkpoint
  under $SPARK_GRAFT_CHECKPOINT_DIR (r12 verdict item 7).
- q230 literal-pattern rewrite equivalence (the crossJoin + per-row
  RLIKE-compile form vs the single-aggregate literal form), empty
  input included.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from real_time_stream_processing_engine_spark.functions.lineage import (
    lineage_cut,
)


def test_lineage_cut_local_by_default(spark, monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    df = lineage_cut(spark.range(10))
    assert df.count() == 10
    # local checkpoint: lineage truncated to an RDD scan, no reliable
    # checkpoint files written anywhere under tmp_path
    assert "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString()
    assert not any(os.scandir(str(tmp_path)))


def test_lineage_cut_reliable_under_env(spark, monkeypatch, tmp_path):
    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    # the cut re-points the SHARED context's checkpoint dir; restore the
    # raw Option (setCheckpointDir would nest a fresh uuid subdir) so
    # later tests do not inherit this test's tmp_path
    jsc = spark.sparkContext._jsc.sc()
    prev = jsc.checkpointDir()
    try:
        df = lineage_cut(spark.range(10))
        assert df.count() == 10
        # reliable checkpoint: RDD blocks written under the configured dir
        found = [
            os.path.join(r, f)
            for r, _, fs in os.walk(str(ckpt))
            for f in fs
        ]
        assert found, "no checkpoint files written under SPARK_GRAFT_CHECKPOINT_DIR"
    finally:
        getattr(jsc, "checkpointDir_$eq")(prev)


def test_lineage_cut_reliable_test_restores_checkpoint_dir(
    spark, monkeypatch, tmp_path
):
    before = spark.sparkContext.getCheckpointDir()
    test_lineage_cut_reliable_under_env(spark, monkeypatch, tmp_path)
    assert spark.sparkContext.getCheckpointDir() == before


def test_q230_literal_rewrite_matches_crossjoin_form(spark):
    """The r13 rewrite (one aggregate, literal regexes, explode back to
    3 rows) must emit exactly the rows of the r12 crossJoin form."""
    rows = [
        ("view_click_purchase_ok", "vcp"),
        ("funnel_with_noise", "vxxcyyp"),
        ("entry_error", "evc"),
        ("retry_loop", "xexece"),
        ("no_match", "vvv"),
        ("empty", ""),
    ]
    seq = spark.createDataFrame(
        [(i, sq) for i, (_, sq) in enumerate(rows)], "sid long, sq string"
    )
    pats = [
        ("view_click_purchase", "v.*c.*p"),
        ("error_entry", "^e"),
        ("error_loop", "e.*e.*e"),
    ]
    pat = spark.createDataFrame(pats, "pattern string, re string")
    old = (
        seq.crossJoin(F.broadcast(pat))
        .groupBy("pattern")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum(F.when(F.expr("sq RLIKE re"), 1).otherwise(0))
            .cast("long")
            .alias("n_match"),
        )
    )
    agg = seq.agg(
        F.count("*").cast("long").alias("n_sessions"),
        *[
            F.sum(F.when(F.col("sq").rlike(re), 1).otherwise(0))
            .cast("long")
            .alias(f"m{i}")
            for i, (_, re) in enumerate(pats)
        ],
    )
    new = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("pattern"),
                        F.col(f"m{i}").alias("n_match"),
                    )
                    for i, (name, _) in enumerate(pats)
                ]
            )
        ).alias("h"),
        "n_sessions",
    ).select("h.pattern", "n_sessions", "h.n_match")
    assert sorted(map(tuple, old.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_extra_conf_java_options_merge_with_defaults():
    """*.extraJavaOptions from the env MERGE with the tuned defaults
    (defaults first, env flags last so they win in the JVM); other
    keys still overwrite; ';' in values stays unrepresentable and
    fails loudly (r12 advice)."""
    import pytest

    from real_time_stream_processing_engine_spark.session import (
        apply_env_conf,
    )

    conf = {
        "spark.driver.extraJavaOptions": "-XX:G1HeapRegionSize=32m",
        "spark.sql.shuffle.partitions": "32",
    }
    apply_env_conf(
        conf,
        "spark.driver.extraJavaOptions=-XX:ConcGCThreads=4;"
        "spark.sql.shuffle.partitions=64",
    )
    assert conf["spark.driver.extraJavaOptions"] == (
        "-XX:G1HeapRegionSize=32m -XX:ConcGCThreads=4"
    )
    assert conf["spark.sql.shuffle.partitions"] == "64"
    # executor variant merges too, but only when a default exists
    conf2 = {}
    apply_env_conf(conf2, "spark.executor.extraJavaOptions=-Xss4m")
    assert conf2["spark.executor.extraJavaOptions"] == "-Xss4m"
    with pytest.raises(ValueError, match="not k=v"):
        apply_env_conf({}, "oops-no-equals")


def test_q230_empty_events_matches_oracle(spark, sf_dir, tmp_path):
    """Over an empty events table the oracle (and the r12 crossJoin
    form) emit no rows; the single global aggregate must not emit 3
    rows with n_sessions = 0."""
    import pyarrow.parquet as pq

    from real_time_stream_processing_engine_spark.queries import ORACLE, QUERIES

    from .oracle import compare, duck_connection

    src = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    pq.write_table(src.slice(0, 0), str(tmp_path / "events.parquet"))
    name = "q230_sequence_patterns"
    got = QUERIES[name](spark, str(tmp_path))
    res = compare(got, duck_connection(str(tmp_path)), ORACLE[name])
    assert res["rows_oracle"] == 0 and res["ok"], res
