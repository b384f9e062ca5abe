"""Tests of the benchmark itself: stored digests, refusal of wrong answers,
and agreement of the printed metrics with BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest

from perfbench import harness as H
from perfbench import run as R
from perfbench.derive_digests import derive
from perfbench.results import digest
from perfbench.tracing import Tracer
from perfbench.workloads import _mismatch, load_digests

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_stored_digests_rederive_from_duckdb_oracles():
    assert derive() == load_digests()


def test_digest_ignores_row_order_and_integer_width_but_not_values():
    utc = dt.timezone.utc
    spark_like = pa.table({
        "k": pa.array([2, 1], pa.int32()),
        "ts": pa.array([dt.datetime(2024, 1, 2, tzinfo=utc), dt.datetime(2024, 1, 1, tzinfo=utc)],
                       pa.timestamp("us", tz="UTC")),
        "v": [0.5, -0.0],
    })
    duck_like = pa.table({
        "v": [0.0, 0.5],
        "k": pa.array([1, 2], pa.int64()),
        "ts": pa.array([dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)], pa.timestamp("us")),
    })
    assert digest(spark_like) == digest(duck_like)
    changed = duck_like.set_column(0, "v", pa.array([0.0, 0.5000000001]))
    assert digest(changed) != digest(duck_like)


def _ops(stored: str, result: pa.Table) -> list[H.Op]:
    good = pa.table({"x": [1, 2, 3]})

    def check_against(want, table):
        return lambda spark: _mismatch("result", digest(table), want)

    return [
        H.Op("right", "operators", lambda s: None, check_against(digest(good), good)),
        H.Op("checked", "operators", lambda s: None, check_against(stored, result)),
    ]


@pytest.mark.parametrize("case", ["corrupted digest", "corrupted result"])
def test_failed_check_counts_as_error_and_suppresses_its_number(case):
    good = pa.table({"x": [1, 2, 3]})
    if case == "corrupted digest":
        ops = _ops("0" * 64, good)
    else:
        ops = _ops(digest(good), pa.table({"x": [1, 2, 4]}))
    tally = H.Tally()
    passed = H.check_pass(_FakeSpark(), ops, tally, Tracer(), lambda line: None)
    H.timed_passes(_FakeSpark(), passed, 0.0, tally, Tracer())
    assert [op.name for op in passed] == ["right"]
    assert tally.failed == 1 and tally.failed / tally.attempted > 0
    assert "checked" not in tally.samples and "right" in tally.samples
    e2e = H.end_to_end(tally)
    assert e2e["pass_s"] == tally.samples["right"][0]


def test_raising_operation_counts_as_error_and_suppresses_its_number():
    def boom(spark):
        raise RuntimeError("boom")

    ops = [H.Op("ok", "io", lambda s: None, lambda s: []), H.Op("boom", "io", boom, lambda s: [])]
    tally = H.Tally()
    H.timed_passes(_FakeSpark(), ops, 0.0, tally, Tracer())
    assert tally.failed == 1 and "boom" not in tally.samples
    assert set(H.end_to_end(tally)) == {"pass_s", "op_geomean_s"}


def test_metric_tables_match_benchmark_json():
    assert R.END_TO_END_UNITS == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert R.PER_LAYER_UNITS == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert [w["name"] for w in SPEC["workloads"]] == ["generate", "analytics", "stream"]


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_match_benchmark_json(trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "generate", "--seed", "3", "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    for m in SPEC["end_to_end"]:
        assert f"metric {m['name']} " in proc.stdout


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run([sys.executable, *SPEC["command"][1:], "--workload", "generate", "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
                          timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_end_processes_kills_and_reaps_orphaned_descendants():
    """A process that outlives its parent, as the JVM's Python workers do
    when the JVM exits first, is still waited for, killed past the timeout,
    and reaped, so nothing the run started is left behind."""
    code = (
        "import os, subprocess\n"
        "from perfbench import harness as H\n"
        "assert H.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 &'], stdout=subprocess.DEVNULL)\n"
        "assert len(H._process_tree(os.getpid())) == 2\n"
        "H.end_processes(timeout=1)\n"
        "print(len(H._process_tree(os.getpid())))\n"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip() == "1"


class _FakeSpark:
    """Just enough of a SparkSession for ``harness.isolate``."""

    class catalog:
        @staticmethod
        def listTables():
            return []

    class sparkContext:
        class _jsc:
            @staticmethod
            def getPersistentRDDs():
                return {}
