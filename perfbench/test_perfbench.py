"""Tests of the benchmark itself:

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start a Spark JVM per workload (about a minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402


def _digest(workload: str, seed: int) -> tuple[str, list]:
    w = gen.WORKLOADS[workload]
    corpus = gen.make_inputs(w, seed)
    h = hashlib.sha256()
    h.update(corpus.docs.to_csv(index=False).encode("utf-8"))
    return h.hexdigest(), gen.make_queries(w, corpus, seed, 50)


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_inputs_follow_the_seed(workload):
    corpus_a, queries_a = _digest(workload, 11)
    corpus_b, queries_b = _digest(workload, 11)
    corpus_c, queries_c = _digest(workload, 12)
    assert corpus_a == corpus_b and queries_a == queries_b
    assert corpus_a != corpus_c and queries_a != queries_c


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(gen.WORKLOADS)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "0.03"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_tiny_run_is_correct(workload):
    result, info = _run(workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert info["end_to_end"]["failed_ops_ratio"]["value"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_tiny_traced_run_reports_every_layer():
    result, info = _run("code_search", 1)
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER
    for name in ("spans.jsonl", "layers.json", "layers.md"):
        assert os.path.exists(os.path.join(info["trace_dir"], name))


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "code_search",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0 and proc.stdout.strip() == ""
