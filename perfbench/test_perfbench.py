"""Tests of the benchmark's own output.

    python3 -m pytest perfbench -q

They check that ``BENCHMARK.json`` names exactly the metrics the
benchmark emits, that failing and wrong gates are counted, and that the
benchmark refuses to run without the program.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from fingerprint import fingerprint  # noqa: E402
from layers import LAYER_METRICS, layer_metric_names, parse_sql_metric, plan_counts  # noqa: E402
from workloads import ROOT, WORKLOADS, ensure_importable, timed_passes  # noqa: E402

BENCH_GATES = sorted({g for w in WORKLOADS.values() for g in w["gates"]})


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_the_emitted_metrics():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layer_metric_names(BENCH_GATES)
    assert all(m["better"] in ("lower", "higher") for m in spec["end_to_end"] + spec["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_every_benchmarked_gate_has_a_reference():
    refs = run.load_references()
    ensure_importable()
    from stepist_spark.queries import all_queries

    assert set(refs) == set(all_queries())
    assert all(refs[g]["rows"] > 0 for g in BENCH_GATES)


def test_timed_passes_fill_the_seconds_at_the_nominal_pass_time():
    assert timed_passes("relational_io", 16) == 3
    assert timed_passes("llm_curation", 16) == 4
    assert timed_passes("llm_curation", 1) == 1
    assert timed_passes("all", 10) == 1


def test_fingerprint_ignores_row_and_column_order():
    a = fingerprint(["x", "y"], [(1, 2.0), (3, 4.0)])
    b = fingerprint(["y", "x"], [(4.0, 3), (2.0, 1)])
    assert a == b and a["rows"] == 2
    assert fingerprint(["x", "y"], [(1, 2.0), (3, 4.5)]) != a


def test_parse_sql_metric():
    assert parse_sql_metric("981 ms") == pytest.approx(0.981)
    assert parse_sql_metric("3.3 s") == pytest.approx(3.3)
    assert parse_sql_metric("1,234") == 1234
    assert parse_sql_metric("1024.0 KiB") == pytest.approx(1.0)
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n10 ms (4 ms, 6 ms, 6 ms (stage 2.0: task 2))"
    ) == pytest.approx(0.010)


def test_plan_counts_skip_the_initial_plan():
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- == Final Plan ==",
        "   *(2) Project [a#1]",
        "   +- ArrowEvalPython [f(a#1)#2], [pythonUDF0#3], 200",
        "      +- ShuffleQueryStage 0",
        "         +- Exchange hashpartitioning(a#1, 4), ENSURE_REQUIREMENTS",
        "            +- *(1) ColumnarToRow",
        "               +- FileScan parquet [a#1] Batched: true",
        "+- == Initial Plan ==",
        "   Project [a#1]",
        "   +- Exchange hashpartitioning(a#1, 4), ENSURE_REQUIREMENTS",
        "      +- FileScan parquet [a#1] Batched: true",
    ])
    assert plan_counts(plan) == {"exchanges": 1, "scans": 1, "python_nodes": 1}


# ------------------------------------------------- runs with stub gates


def _good(spark, sf_dir):
    return spark.range(5)


def _raises(spark, sf_dir):
    raise RuntimeError("stub gate failure")


def _wrong_rows(spark, sf_dir):
    return spark.range(6)


STUBS = {"good": _good, "raises": _raises, "wrong": _wrong_rows}
STUB_REFS = {name: fingerprint(["id"], [(i,) for i in range(5)]) for name in STUBS}


@pytest.fixture(scope="module")
def spark():
    ensure_importable()
    from stepist_spark.session import get_spark

    s = get_spark("perfbench_tests", cpus=2)
    yield s
    s.stop()


def _check_result(result: dict, names: dict[str, str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is False
    # warm passes plus at least one timed pass; two of three stubs fail
    assert result["attempted"] >= 6 and result["attempted"] % 3 == 0
    assert result["failed"] == 2 * result["attempted"] // 3
    assert {n: m["unit"] for n, m in result["metrics"].items()} == names
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())


def test_untraced_run_counts_failures_and_emits_end_to_end_metrics(spark):
    result, detail = run.measure(spark, STUBS, STUB_REFS, seed=1, timed=1,
                                 trace=False)
    _check_result(result, run.END_TO_END)
    assert detail["error_rate"] == pytest.approx(2 / 3)
    errors = {f["gate"]: f["error"] for f in detail["failures"]}
    assert "stub gate failure" in errors["raises"]
    assert "6 rows" in errors["wrong"]
    assert detail["pass_s"]["n"] == len(detail["passes"]) == 1
    assert all(len(v) == detail["pass_s"]["n"] for v in detail["calls"].values())


def test_traced_run_emits_the_per_layer_schema(spark):
    result, detail = run.measure(spark, STUBS, STUB_REFS, seed=1, timed=1,
                                 trace=True)
    names = layer_metric_names(sorted(set(BENCH_GATES) | set(STUBS)))
    _check_result(result, names)
    assert set(LAYER_METRICS) <= set(result["metrics"])
    traced = [p for p in detail["passes"] if p["traced"]]
    assert [p["traced"] for p in detail["passes"]] == [False, True, True, False]
    per_pass = detail["layers_per_pass"]
    assert set(per_pass) == set(names) - {"trace.overhead_s"}
    assert all(len(v) == len(traced) for v in per_pass.values())
    assert result["metrics"]["queries.good.wall_s"]["value"] > 0
    assert result["metrics"]["operators.jobs"]["value"] >= 1
    # the tracer's wrappers are gone once the run ends
    from stepist_spark import pipeline, session
    from stepist_spark.queries import relational

    assert session.load_table.__qualname__ == "load_table"
    assert relational.load_table is session.load_table
    assert pipeline.Hub.__call__.__qualname__ == "Hub.__call__"


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational_io", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
