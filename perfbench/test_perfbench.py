"""Tests of the benchmark itself: its declared metrics, its input generator,
its statistics and self-checks, and one short traced run of the streaming
workload.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
from workloads import STREAM_CHECKS, WORKLOADS  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_the_runner():
    b = _bench_json()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == list(run.PER_LAYER)
    assert b["end_to_end"][0]["name"] == "setup_s"
    assert not {name for name, _ in run.WALL} & {m["name"] for m in b["end_to_end"]}
    assert max(m["bound"] for m in b["end_to_end"]) == b["end_to_end"][0]["bound"]


def test_every_streaming_id_has_a_batch_analog():
    for ids in WORKLOADS.values():
        for qid in ids:
            assert qid.startswith("stream_") == (qid in STREAM_CHECKS), qid


def test_datagen_is_a_function_of_the_seed():
    a = datagen.tables(7)
    b = datagen.tables(7)
    c = datagen.tables(8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in datagen.ROWS} == datagen.ROWS


def test_datagen_has_the_fixture_shape():
    """sf0.01 row counts, one near-duplicate in twenty documents, and
    microsecond timestamps without time zone, as in the engine's fixtures."""
    t = datagen.tables(datagen.DATA_SEED)
    assert datagen.ROWS["lineitem"] == 60000 and datagen.ROWS["documents"] == 500
    texts = t["documents"]["text"].to_pylist()
    assert sum(x.endswith(" dup") for x in texts) == len(texts) // 20
    for table, col in (("events", "ts"), ("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        assert t[table].schema.field(col).type == pa.timestamp("us"), (table, col)
    assert t["events"]["user_id"].to_numpy().max() < datagen.ROWS["customer"] // 10


def test_count_check_fails_counts_that_drift(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "WORK", str(tmp_path))
    bench = run.Bench("llm_pipeline", 1, 1.0, True, str(tmp_path))

    def passes(*counts):
        return [
            run.Pass(i, True, 0.0, jobs=[run.Job("llm_dedup_keep", "llm.dedup", 0.0, spark_jobs=[{}] * n)])
            for i, n in enumerate(counts)
        ]

    assert bench.count_check(passes(5, 5))["unstable"] == {}
    assert bench.count_check(passes(5, 7))["unstable"] == {"llm_dedup_keep": [5, 5, 7]}
    # a later run is compared with the first run's counts
    assert bench.count_check(passes(6, 6))["unstable"] == {"llm_dedup_keep": [5, 6, 6]}
    assert run.unstable_counts({"a": [3, 3], "b": [2]}, {"b": 2}) == {}


def test_tail_needs_ten_samples_beyond():
    lat = {"a": [float(i) for i in range(1, 31)]}
    assert run.tail(lat) == (20.0, 100.0 * 20 / 30)
    # too few samples: the slowest id's median, not one slow repeat
    few = {"a": [1.0, 1.1, 0.9], "b": [3.0, 9.0, 3.2], "c": [2.0, 2.1, 1.9]}
    assert run.tail(few) == (3.2, 100.0 * 8 / 9)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "layer": "job", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "layer": "stage", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "layer": "stage", "start": 3.0, "end": 5.0},
        {"id": 3, "parent": 0, "layer": "stage", "start": 8.0, "end": 12.0},
    ]
    got = run.self_times(spans)
    assert got["job"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got["stage"] == pytest.approx(3.0 + 2.0 + 4.0)


def test_runner_refuses_a_tree_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "llm_pipeline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_traced_stream_run_attributes_drain_work():
    """Micro-batch jobs carry the query's runId as job group, not the
    caller's; attribution by job-id range must still give the drains their
    stages and tasks."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_stream", "--seed", "3",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = _last_json(p.stdout)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert out["correct"] and out["failed"] == 0
    assert set(m) == {name for name, _ in run.PER_LAYER}
    assert m["streaming.jobs.tasks"] > 0
    assert m["streaming.jobs.spark_jobs"] > 0
    assert m["streaming.jobs.batches"] > 0
    assert m["streaming.jobs.input_rows"] > 0
    with open(os.path.join(HERE, "_work", "trace-batch_stream-seed3.json")) as f:
        trace = json.load(f)
    layers = {s["layer"] for s in trace["spans"]}
    assert {"run", "pass", "streaming.jobs", "spark.stage", "streaming.microbatch"} <= layers
    assert trace["self_time_s"]["streaming.microbatch"] > 0
