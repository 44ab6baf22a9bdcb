"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench -q

The end-to-end tests start Spark and take several minutes; they run the
``tiny`` size of each workload.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, layers, run, workloads  # noqa: E402


def _cli(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    # the run sets PYTHONPATH itself; an inherited one could make the
    # engine importable where the test wants it absent
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=900,
    )


def test_inputs_depend_only_on_the_seed():
    a = gen.transcripts_table(5, 30)
    assert a.equals(gen.transcripts_table(5, 30))
    assert not a.equals(gen.transcripts_table(6, 30))
    pool = gen.query_pool(5, 50)
    assert pool.equals(gen.query_pool(5, 50))
    assert pool.column("text").to_pylist()[:4] == gen.EDGE_QUERIES
    docs, exact, near = gen.curation_docs(5, 100)
    assert docs.equals(gen.curation_docs(5, 100)[0])
    assert exact and near and all(o < c for o, c in exact + near)


def test_topk_diff_flags_any_changed_rank_score_or_doc():
    want = {"q1": [(3, 2.5, 1), (9, 1.0, 2)], "q2": []}
    assert workloads.diff_topk(want, {"q1": [(3, 2.5, 1), (9, 1.0, 2)]}, ["q1", "q2"], "x") == []
    for bad in ([(3, 2.5, 1)], [(9, 2.5, 1), (3, 1.0, 2)], [(3, 2.5000001, 1), (9, 1.0, 2)]):
        assert len(workloads.diff_topk(want, {"q1": bad}, ["q1"], "x")) == 1
    assert workloads.diff_topk(want, {"q2": [(1, 1.0, 1)]}, ["q2"], "x")


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert "tail" not in workloads.summarize([1.0] * 10)
    s = workloads.summarize([float(i) for i in range(1, 41)])
    assert s["p50"] == 20.5 and s["tail"] == 30.0 and s["tail_pct"] == 75.0


def test_span_metrics_join_the_event_log_by_tag(tmp_path):
    span = layers.Span("query.wand", "query.wand#0", 100.0)
    span.t1 = 104.0
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
            "Task Info": {"Launch Time": 101000, "Finish Time": 101500,
                          "Accumulables": [{"Name": layers.PY_SENT, "Update": 640}]},
            "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 2e8,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 77}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101000,
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": "query.wand#0"}},
        task, task,
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Completion Time": 102000}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 102500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 101000,
         "Stage IDs": [2], "Properties": {"spark.job.description": "other#1"}},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events))
    m = layers.span_metrics(span, layers.parse_event_log(str(path)))
    assert m["jobs"] == 1 and m["kernel_tasks"] == 2 and m["py_sent_bytes"] == 1280
    assert m["driver_s"] == pytest.approx(2.5) and m["after_kernel_s"] == pytest.approx(2.0)
    assert m["run_s"] == pytest.approx(0.8) and m["shuffle_write_bytes"] == 154


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_run_reports_every_end_to_end_metric(workload):
    p = _cli(workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["attempted"] >= 1 and res["failed"] == 0
    assert set(res["metrics"]) == set(run.E2E_UNITS)
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_run_reports_every_per_layer_metric(workload):
    p = _cli(workload, 1)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and set(res["metrics"]) == set(run.PER_LAYER_UNITS)
    own = {"build": ["documents.s", "index.build.encode_s", "index.merge.s",
                     "pipeline.dedup.minhash_s", "pipeline.ann_index.index_files"],
           "query": ["query.wand.kernel_tasks", "query.wand.python_bytes_sent",
                     "query.served_drift"]}[workload]
    assert all(res["metrics"][k]["value"] > 0 for k in own)


def _main_fails(argv, capsys) -> list[str]:
    """Runs the benchmark in-process; returns the errors it reported."""
    assert run.main(argv) == 1
    lines = capsys.readouterr().out.strip().splitlines()
    assert json.loads(lines[-1])["correct"] is False
    return json.loads(lines[-2])["detail"]["errors"]


def test_a_corrupted_timed_query_result_fails_the_run(monkeypatch, capsys, tmp_path):
    from pyspark.sql import functions as F

    real = workloads.wand.retrieve
    # the edge cases are checked in set-up; corrupting only the other
    # queries leaves set-up clean, so the timed checks must catch it
    edge = [f"q{i:05d}" for i in range(len(gen.EDGE_QUERIES))]

    def off_by_one(*a, **kw):
        df = real(*a, **kw)
        bad = (F.col("rank") == 1) & ~F.col("query_id").isin(edge)
        return df.withColumn("score", F.when(bad, F.col("score") + 1)
                             .otherwise(F.col("score")))

    monkeypatch.setattr(workloads.wand, "retrieve", off_by_one)
    monkeypatch.chdir(tmp_path)
    errors = _main_fails(["--workload", "query", "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--size", "tiny"], capsys)
    assert errors and all(e.startswith(("single:", "served:")) for e in errors)


def test_a_corrupted_timed_build_fails_the_run(monkeypatch, capsys, tmp_path):
    real = workloads.bulk_build
    calls = []

    def lose_a_shard_after_setup(spark, src, out, shards):
        res = real(spark, src, out, shards)
        calls.append(out)
        if len(calls) > 1:  # the first call is the set-up build
            shutil.rmtree(os.path.join(out, "shard_id=0"))
        return res

    monkeypatch.setattr(workloads, "bulk_build", lose_a_shard_after_setup)
    monkeypatch.chdir(tmp_path)
    errors = _main_fails(["--workload", "build", "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--size", "tiny"], capsys)
    assert any("content hash differs" in e for e in errors)
    assert all(e.startswith("build:") for e in errors)


def test_a_corrupted_segment_fails_the_run(monkeypatch, capsys, tmp_path):
    real = workloads.incremental.build_segment_from_batch
    calls = []

    def lose_a_shard_after_setup(*a, **kw):
        seg = real(*a, **kw)
        calls.append(seg)
        if len(calls) > 1:  # the first call is the set-up append
            shutil.rmtree(os.path.join(seg, "shard_id=0"))
        return seg

    monkeypatch.setattr(workloads.incremental, "build_segment_from_batch",
                        lose_a_shard_after_setup)
    monkeypatch.chdir(tmp_path)
    errors = _main_fails(["--workload", "build", "--seed", "3", "--seconds", "1",
                          "--trace", "0", "--size", "tiny"], capsys)
    assert errors and all(e.startswith("segment:") for e in errors)


def test_without_the_engine_the_run_fails_and_prints_no_result(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _cli("query", 0, cwd=str(tmp_path))
    assert p.returncode != 0 and p.stdout == ""
