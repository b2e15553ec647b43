"""The benchmark's own checks.

Fast: the tail rule, the trace accounting, and that ``BENCHMARK.json``
declares exactly the metrics the code reports.

Slow (about 10 minutes on 4 cores; each run starts its own Spark JVM): the
determinism self-check.  For every workload, two traced runs with the same
seed must report the same deterministic counts, and a run with a second seed
must report different ones, so that no workload is tuned to one seed.

    python3 -m pytest -q perfbench/test_perfbench.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run, tracing, workloads  # noqa: E402


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert run.tail(xs, 50.5) == (90.0, 90.0, 10)
    assert run.tail(xs[:21], 11.0) == (11.0, 100.0 * 11 / 21, 10)
    # too few samples for a tail above the median: the median
    assert run.tail(xs[:12], 6.5) == (6.5, 50.0, 6)
    assert run.tail([3.0], 3.0) == (3.0, 50.0, 0)


def test_p50_of_a_mix_is_the_median_of_kind_medians():
    assert workloads.p50({"a": [1.0, 3.0, 2.0]}) == 2.0
    mix = {"fast": [1.0, 1.2], "mid": [2.0, 2.2], "slow": [9.0, 9.4]}
    assert workloads.p50(mix) == 2.1


def test_trace_self_times_account_for_the_wall():
    tr = tracing.Tracer(True)
    with tr.trace("op.demo"):
        with tr.span("table_files.plan"):
            time.sleep(0.002)
        with tr.span("session.collect"):
            with tr.span("blocks.decode"):
                time.sleep(0.001)
            time.sleep(0.001)
        time.sleep(0.001)
    tr.enabled = False
    with tr.trace("op.untraced"):
        pass
    (t,) = tracing.analyze(tr.spans)
    assert t["problems"] == []
    assert sum(t["self_ns"].values()) == t["wall_ns"]
    assert set(t["self_ns"]) == {"table_files", "session", "blocks",
                                 "unaccounted"}
    lines, ok = tracing.summarize({"workload": "demo", "seed": 0,
                                   "spans": tr.spans})
    assert ok, lines


def test_trace_check_catches_a_child_outside_its_parent():
    spans = [
        {"trace": 0, "id": 0, "parent": None, "name": "op.x",
         "start_ns": 0, "end_ns": 100},
        {"trace": 0, "id": 1, "parent": 0, "name": "session.collect",
         "start_ns": 50, "end_ns": 150},
    ]
    (t,) = tracing.analyze(spans)
    assert t["problems"]


def test_benchmark_json_declares_what_the_code_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(
        run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == (
        workloads.per_layer_metrics())
    assert [w["name"] for w in bench["workloads"]] == list(
        workloads.WORKLOADS)


DETERMINISTIC_PREFIXES = (
    "engine_files.splits", "engine_files.split_bytes_imbalance",
    "blocks.codec_docs.", "kernels.runs_per_token", "table_files.tasks",
    "table_files.join_dim.broadcast", "table_files.join_dim.runtime_filter",
)
DETERMINISTIC_SUFFIXES = (
    ".blocks_total", ".blocks_pruned", ".blocks_full", ".blocks_partial",
    ".rows_surviving", ".payload_bytes",
)


def _counts(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert last["correct"] and last["failed"] == 0, proc.stdout[-3000:]
    with open(os.path.join(HERE, ".work", "results",
                           f"{workload}-seed{seed}-trace1.json")) as f:
        rec = json.load(f)
    counts = {"bytes_per_unit": rec["end_to_end"]["bytes_per_unit"]}
    for name, value in rec["per_layer"].items():
        if (name.startswith(DETERMINISTIC_PREFIXES)
                or name.endswith(DETERMINISTIC_SUFFIXES)):
            counts[name] = value
    return counts


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_deterministic_counts_repeat_for_a_seed_and_follow_it(workload):
    a = _counts(workload, 101)
    b = _counts(workload, 101)
    c = _counts(workload, 202)
    assert a == b
    assert a["bytes_per_unit"] != c["bytes_per_unit"]
    assert a != c
