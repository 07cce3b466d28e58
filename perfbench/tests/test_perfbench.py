"""Self-test of the benchmark: a small run of each workload prints every
metric with its unit and passes its output checks, and a corrupted decoded
row makes the check fail without stopping the run.

    python3 -m pytest perfbench/tests -q

Each run starts its own Spark session in a subprocess; the file takes a
few minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import layers, run, workloads  # noqa: E402

TURNS = 3000  # under one stripe, so that each run takes seconds
SECONDS = 1

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

LOOKUP_END_TO_END = {"setup_s": "s", "lookup_p50_ms": "ms",
                     "lookup_tail_ms": "ms", "bytes_per_raw_byte": "ratio"}


def expected_metrics(workload: str, trace: int) -> dict[str, str]:
    if workload == "lookup":
        if trace:
            return dict(layers.per_layer("lookup"))
        return LOOKUP_END_TO_END
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in BENCH[key]}


def bench(*argv: str) -> tuple[dict, dict]:
    """Run the benchmark in a subprocess; return its info and result."""
    return _last_lines(subprocess.run(
        [sys.executable, "perfbench/run.py", *argv],
        cwd=ROOT, capture_output=True, text=True, timeout=600))


def _last_lines(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["info"], json.loads(lines[-1])


def test_benchmark_json_lists_the_workloads_run_py_has():
    names = [w["name"] for w in BENCH["workloads"]]
    assert set(names) <= set(run.WORKLOAD_NAMES)
    for m in BENCH["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_small_run_prints_every_metric_with_its_unit(workload, trace):
    info, res = bench("--workload", workload, "--seed", "5",
                      "--seconds", str(SECONDS), "--trace", str(trace),
                      "--turns", str(TURNS))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert info["turns"] == TURNS
    assert info["op_fail_frac"] == {"value": 0.0, "unit": "frac"}
    want = expected_metrics(workload, trace)
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for name, m in res["metrics"].items():
        if name == "lookup_tail_ms" and m["value"] is None:
            continue  # fewer lookups than the tail needs
        assert isinstance(m["value"], (int, float)), name


# Appends "x" to the text of one row of every decode_job result.
CORRUPT = """
import sys
from pyspark.sql import functions as F
from orc_format_spark import pipeline
from perfbench import run

decode_job = pipeline.decode_job

def corrupted(*args, **kwargs):
    df = decode_job(*args, **kwargs)
    bad = (F.col("conv_id") == "conv-0000000000") & (F.col("turn_idx") == 0)
    return df.withColumn(
        "text", F.when(bad, F.concat("text", F.lit("x")))
        .otherwise(F.col("text")))

pipeline.decode_job = corrupted
sys.exit(run.main(sys.argv[1:]))
"""


def test_corrupted_decoded_row_fails_the_check():
    info, res = _last_lines(subprocess.run(
        [sys.executable, "-c", CORRUPT, "--workload", "scan", "--seed", "5",
         "--seconds", str(SECONDS), "--trace", "0", "--turns", str(TURNS)],
        cwd=ROOT, capture_output=True, text=True, timeout=600))
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1
    assert info["op_fail_frac"]["value"] == 1.0


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_input_has_exact_size_and_long_share(seed):
    kept = workloads.select_input(seed, run.INPUT_TURNS)
    assert sum(kept.values()) == run.INPUT_TURNS
    long_turns = sum(n for conv, n in kept.items()
                     if workloads.conv_turns(conv, seed) >= 1_000)
    assert long_turns == round(run.INPUT_TURNS * workloads.LONG_SHARE)
    assert kept == workloads.select_input(seed, run.INPUT_TURNS)


def test_tail_has_ten_samples_beyond_it():
    assert run.tail([1.0] * 10) == (None, None)
    values = [float(i) for i in range(20)]
    assert run.tail(values) == (9.0, 50.0)
