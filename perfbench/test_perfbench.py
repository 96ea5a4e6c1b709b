"""Tests of the benchmark's own checks and accounting (no Spark session).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import proctree  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


@pytest.fixture
def synth_paths(tmp_path):
    data = inputs.write_synth_transcripts(5, 300, str(tmp_path / "data"))
    return {"data": data, "oracle": str(tmp_path / "oracle.json")}


def test_synth_input_has_the_asked_row_count(synth_paths):
    got = pd.read_parquet(synth_paths["data"])
    assert len(got) == 300
    assert len(os.listdir(synth_paths["data"])) == inputs.SYNTH_FILES
    assert not got.duplicated(["conv_id", "turn_idx"]).any()


def test_synth_check_flags_a_corrupted_count(synth_paths):
    want = checks.synth_oracle(synth_paths["data"], synth_paths["oracle"])
    assert want["input_rows"] == 300 and want["parser"] > 0
    good = {"outputs": dict(want)}
    assert run.check("synth_dag", synth_paths, good) == []

    bad = {"outputs": dict(want, pattern=want.get("pattern", 0) + 1)}
    assert run.check("synth_dag", synth_paths, bad) == ["pattern"]
    dropped = {"outputs": {k: v for k, v in want.items() if k != "parser"}}
    assert run.check("synth_dag", synth_paths, dropped) == ["parser"]


def test_docs_check_flags_a_corrupted_query(tmp_path):
    data = inputs.ensure_tables(str(tmp_path / "data"), {
        "documents": lambda: inputs.documents_table(3, 40),
        "embeddings": lambda: inputs.embeddings_table(3, 20),
    })
    paths = {"data": data, "oracle": str(tmp_path / "oracle")}
    out = tmp_path / "out"
    out.mkdir()
    names = ["dedup_exact", "embedding_topk"]
    for name in names:
        checks.docs_oracle(data, name, paths["oracle"]).to_parquet(
            out / f"{name}.parquet")
    res = {"out": str(out), "outputs": {"queries": names}}
    assert run.check("docs_ops", paths, res) == []

    got = pd.read_parquet(out / "embedding_topk.parquet")
    got.loc[0, got.select_dtypes("number").columns[-1]] += 0.5
    got.to_parquet(out / "embedding_topk.parquet")
    assert run.check("docs_ops", paths, res) == ["embedding_topk"]

    got = pd.read_parquet(out / "dedup_exact.parquet").iloc[1:]
    got.to_parquet(out / "dedup_exact.parquet")
    assert run.check("docs_ops", paths, res) == ["dedup_exact", "embedding_topk"]


def test_inputs_follow_the_seed():
    a, b = inputs.documents_table(1, 50), inputs.documents_table(1, 50)
    assert a.equals(b)
    assert not a.equals(inputs.documents_table(2, 50))
    assert set(" ".join(a["text"].to_pylist()).split()) <= set(inputs.VOCAB)


def _job(jid, group, t0, t1, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0 * 1000,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1 * 1000},
    ]


def _task(stage, launch, finish, shuffle=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch * 1000, "Finish Time": finish * 1000},
            "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}


def test_fold_attributes_jobs_by_group_then_by_time():
    tracks = [
        {"name": "dag", "parent": None, "start": 100.0, "end": 110.0},
        {"name": "parse", "parent": None, "start": 120.0, "end": 125.0},
    ]
    events = (
        _job(0, None, 101, 104, [0]) + _job(1, None, 103, 106, [1])  # pool threads
        + _job(2, "parse", 121, 124, [2, 0])                          # reuses stage 0
        + [_task(0, 101, 102), _task(1, 103, 106, shuffle=2 * 10**6),
           _task(2, 121, 122), _task(2, 121, 122), _task(2, 121, 124)]
    )
    spans.fold(tracks, events)
    dag, parse = tracks
    assert (dag["jobs"], parse["jobs"]) == (2, 1)
    assert dag["jobs_wall_s"] == pytest.approx(6.0)
    assert dag["shuffle_write_mb"] == pytest.approx(2.0)
    assert parse["task_skew"] == pytest.approx(3.0)
    assert spans.idle_s(events, 100.0, 110.0) == pytest.approx(5.0)


def test_tree_accounting_sees_a_child_process():
    import subprocess

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in proctree.tree_pids(os.getpid())
        assert proctree.tree_pss_bytes(os.getpid()) > 0
    finally:
        child.kill()
        child.wait()
    before = proctree.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(range(3 * 10**7))"], check=True)
    # the child is gone, but once reaped its CPU shows in our cutime
    assert proctree.tree_cpu_s(os.getpid()) - before > 0.2


def test_oracle_work_waits_for_the_timed_passes(tmp_path):
    import subprocess

    spec = {"untimed": str(tmp_path / "untimed")}
    job = subprocess.Popen([sys.executable, "-c", (
        "import time\n"
        "time.sleep(0.5)\n"
        f"open({spec['untimed']!r}, 'w').close()\n"
        "time.sleep(0.5)\n")])
    seen = []
    run._after_timing(spec, job, lambda: seen.append(os.path.exists(spec["untimed"])))
    assert job.wait(timeout=30) == 0 and seen == [True]

    # a job that ends before its timed passes are over: no work
    os.remove(spec["untimed"])
    done = subprocess.Popen([sys.executable, "-c", "pass"])
    run._after_timing(spec, done, lambda: seen.append("ran"))
    assert done.wait() == 0 and seen == [True]


def test_benchmark_json_lists_every_reported_metric():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.names()
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"] for m in bench["end_to_end"]} == set(run.UNITS)


def test_tracer_nests_spans_and_times_itself():
    tracer = spans.Tracer()
    with tracer.span("layers"):
        with tracer.span("parse") as s:
            s["rows_out"] = 3
    outer, inner = tracer.spans
    assert (outer["parent"], inner["parent"]) == (None, 0)
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert tracer.find("parse")["rows_out"] == 3
    assert inner["cpu_s"] >= 0 and 0 < tracer.bookkeeping_s < 1
