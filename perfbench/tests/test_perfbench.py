"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The fast tests need no Spark.  ``test_layers_are_traced`` runs each
workload, shrunk, in this process on a local Spark (about two minutes).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import harness  # noqa: E402
import stats  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


# ---------------------------------------------------------------- inputs


def test_same_seed_same_bytes(tmp_path):
    for tag in ("a", "b"):
        gen.write_tables(str(tmp_path / tag / "tables"), seed=7, scale=0.1)
        gen.write_corpus(str(tmp_path / tag / "corpus"), seed=7, n_lines=500, n_chunks=3)
        gen.write_table(gen.events_frame(7, 3, 50), str(tmp_path / tag / "ev.parquet"))
    for sub in ("tables", "corpus"):
        assert _digest(str(tmp_path / "a" / sub)) == _digest(str(tmp_path / "b" / sub))
    with open(tmp_path / "a" / "ev.parquet", "rb") as a, open(tmp_path / "b" / "ev.parquet", "rb") as b:
        assert a.read() == b.read()


def test_other_seed_other_content_same_shape(tmp_path):
    t1, t2 = gen.make_tables(1, 0.1), gen.make_tables(2, 0.1)
    assert t1.keys() == t2.keys()
    for name in t1:
        assert t1[name].num_rows == t2[name].num_rows
        assert t1[name].schema == t2[name].schema
        if name not in ("region", "nation"):  # fixed dimension tables
            assert not t1[name].equals(t2[name]), name
    c1 = gen.write_corpus(str(tmp_path / "c1"), 1, 400, 4)
    c2 = gen.write_corpus(str(tmp_path / "c2"), 2, 400, 4)
    assert len(c1) == len(c2) and c1 != c2
    assert sorted(os.listdir(tmp_path / "c1")) == sorted(os.listdir(tmp_path / "c2"))
    e1, e2 = gen.events_frame(1, 5, 40), gen.events_frame(2, 5, 40)
    assert e1.num_rows == e2.num_rows and not e1.equals(e2)


# ------------------------------------------------------------ percentiles


def test_percentile_needs_ten_beyond():
    assert stats.supported(20, 50) and not stats.supported(19, 50)
    assert stats.supported(30, 66) and not stats.supported(29, 66)
    assert stats.supported(200, 95) and not stats.supported(199, 95)
    with pytest.raises(ValueError):
        stats.percentile(list(range(19)), 50)
    with pytest.raises(ValueError):
        stats.percentile(list(range(199)), 95)


def test_percentile_values():
    xs = [float(i) for i in range(1, 21)]
    assert stats.percentile(xs, 50) == pytest.approx(10.5)
    assert stats.percentile(list(reversed(xs)), 50) == pytest.approx(10.5)
    assert stats.mean(xs) == pytest.approx(10.5)


def test_best_never_rewards_a_failure():
    assert stats.best([(0.5, True), (0.2, False), (0.4, True)]) == 0.4
    assert stats.best([(0.5, False), (0.2, False)]) == 0.5
    ops = [{"k": "a", "latency": 1.0, "ok": True}, {"k": "a", "latency": 0.7, "ok": True},
           {"k": "b", "latency": 0.3, "ok": True}]
    assert sorted(stats.bests(ops, "k")) == [0.3, 0.7]


def test_gmean():
    assert stats.gmean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.gmean([0.5] * 7) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        stats.gmean([1.0, 0.0])


# ----------------------------------------------------------- metric names


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_tables_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER
    import run

    for w in spec["workloads"]:
        assert w["name"] in run.WORKLOADS


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_prints_exactly_the_listed_metrics(trace):
    r = harness.Run("query-suite", 1, 1.0, trace)
    table = harness.PER_LAYER if trace else harness.END_TO_END
    r.e2e = {k: 1.5 for k in harness.END_TO_END}
    if trace:
        r.layers = {k: 1.5 for k in table}
    r.op("q", 0.1, True)
    res = r.result()
    assert list(res) == ["correct", "attempted", "failed", "metrics"]
    assert set(res["metrics"]) == set(table)
    assert all(res["metrics"][k]["unit"] == table[k] for k in table)
    r.e2e, r.layers = {}, {}
    with pytest.raises(RuntimeError):
        r.result()


def test_no_result_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query-suite",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# ------------------------------------------------------------ live traces


@pytest.fixture
def shrunk(monkeypatch):
    import lines
    import live
    import qsuite

    monkeypatch.setattr(qsuite, "QUERY_LIST", (
        "q05_transform_case", "q68_unigram_logprob", "q10_stream_running_count",
    ))
    monkeypatch.setattr(lines, "N_LINES", 2000)
    monkeypatch.setattr(lines, "MIN_JOBS", 20)
    monkeypatch.setattr(live, "TAIL_P", 50.0)
    monkeypatch.setattr(harness.Run, "anchors", lambda self, tag, d: None)
    return {"query-suite": qsuite, "rainstorm-lines": lines, "stream-live": live}


EXPECTED_LAYERS = {
    "query-suite": {"session", "queries", "sources", "functions", "streaming"},
    "rainstorm-lines": {"session", "operators", "sources", "sinks"},
    "stream-live": {"session", "operators", "sources", "streaming"},
}


def test_layers_are_traced(shrunk, monkeypatch, tmp_path):
    """Each layer's span count is above zero on the workload expected to
    hit it, wrappers sit where callers look functions up, closing the
    tracer restores the originals, and no process outlives a run."""
    monkeypatch.setattr(harness, "ROOT", str(tmp_path))  # span files land here
    from real_time_stream_processing_engine_spark import queries
    from real_time_stream_processing_engine_spark.operators import bpe, text

    originals = (queries.load_table, text.lineage_cut, bpe.lineage_cut)
    for workload, module in shrunk.items():
        r = harness.Run(workload, 5, 2.0, True)
        r.work = str(tmp_path / workload)
        r.prepare_dirs()
        try:
            module.run(r)
            if workload == "query-suite":
                assert queries.load_table is not originals[0]
                assert text.lineage_cut is not originals[1]
                assert bpe.lineage_cut is not originals[2]
            layers: dict[str, int] = {}
            for sp in r.tracer.spans:
                layers[sp.layer] = layers.get(sp.layer, 0) + 1
            for layer in EXPECTED_LAYERS[workload]:
                assert layers.get(layer, 0) > 0, (workload, layer, layers)
            assert all(o["ok"] for o in r.ops), workload
            assert set(r.layers) == set(harness.PER_LAYER)
            assert r.layers["exec.jobs"] > 0 and r.layers["py4j.calls"] > 0
        finally:
            r.cleanup()
        # the JVM and the Python workers have ended, not just the session
        assert harness.descendants() == [], workload
    assert (queries.load_table, text.lineage_cut, bpe.lineage_cut) == originals
