"""Tiny-input runs of every workload through the real command line.

Each run uses a shrunken copy of spec.json (short warm-up, one small drain,
two batch queries) and tracing on, so one run checks both metric sets: the
report line carries every end-to-end metric and the result line every
per-layer one, each with its unit. About half a minute per workload.
"""

import json
import os
import subprocess
import sys

import pytest

from perfbench import run

ROOT = run.ROOT


@pytest.fixture(scope="module")
def tiny_spec(tmp_path_factory):
    with open(run.SPEC) as f:
        spec = json.load(f)
    spec["common"].update(setup_reps=2, warmup_s=0.5)
    for w in spec["workloads"].values():
        w.update(drains=1, drain_items=1000)
    spec["workloads"]["batch_queries"].update(
        queries=["replay_topk", "record_linkage"], orders_rows=300, warm_passes=1)
    path = tmp_path_factory.mktemp("spec") / "spec.json"
    path.write_text(json.dumps(spec))
    return str(path)


@pytest.mark.parametrize("workload", ["cdc_envelope", "cdc_fanin", "presence_churn",
                                      "batch_queries"])
def test_every_metric_printed_with_unit(workload, tiny_spec):
    # the paced workloads need 1,000 latency samples in the window
    seconds = {"cdc_fanin": "6", "batch_queries": "1"}.get(workload, "2")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", seconds, "--trace", "1", "--spec", tiny_spec],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report_line, result_line = proc.stdout.strip().splitlines()[-2:]
    report, result = json.loads(report_line), json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    end_to_end = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == per_layer
    assert {n: m["unit"] for n, m in report["end_to_end"].items()} == end_to_end
    for m in report["end_to_end"].values():
        assert m["value"] > 0
    assert os.path.isfile(os.path.join(ROOT, report["trace_file"]))


def test_benchmark_json_matches_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_metrics()


def test_refuses_to_run_without_the_engine(tmp_path):
    """A checkout holding only the benchmark exits non-zero and prints no result."""
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        src = os.path.join(ROOT, "perfbench", name)
        if os.path.isfile(src):
            (bench_dir / name).write_bytes(open(src, "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_envelope", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
