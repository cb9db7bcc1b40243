"""Tests of the benchmark's own code.

    python3 -m pytest perfbench -q

The metric tests need no Spark.  The input and trace-count tests
share one local Spark session; the trace-count test runs two traced
passes of each workload on one seed, and the counts a pass records
must repeat exactly.
"""

from __future__ import annotations

import json
import re
import sys

import pytest

import run
from tracing import HOOKS, Tracer
from workloads import WORKLOADS

sys.path.insert(0, str(run.ROOT))  # the engine, for the tests that run it
SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# counts that must repeat exactly across traced passes of one seed
COUNTS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "py4j.calls",
    "formula.parse_calls",
    "plans.alignment.compile_calls",
    "plans.triplet.matmul_calls",
    "validation.audit_calls",
    "validation.invalid_cells",
)


def test_metric_names_and_units_are_well_formed():
    metrics = {**run.END_TO_END, **run.PER_LAYER}
    assert len(metrics) == len(run.END_TO_END) + len(run.PER_LAYER)
    for name, unit in metrics.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), unit


def test_benchmark_json_matches_the_code():
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"]: w["why"] for w in SPEC["workloads"]} == {
        name: w.why for name, w in WORKLOADS.items()
    }
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"]) <= 0.25


def test_trace_reports_every_per_layer_metric():
    layer_stats = Tracer()._layer_stats(0)  # no spans yet: all zero
    assert not any(layer_stats.values())
    spark_stats = {"spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks"}
    run_stats = {"py4j.calls", "py4j.s", "trace.overhead_s", "first_pass_s",
                 "python.peak_rss_mb", "jvm.peak_rss_mb", "run_wall_s",
                 "formula_latency_p50_ms", "output_cells_per_s",
                 "cpu.python_s", "cpu.jvm_s", "cpu.workers_s", "cpu.jit_s"}
    assert set(layer_stats) | spark_stats | run_stats == set(run.PER_LAYER)


def test_every_hook_resolves_to_the_same_function_at_each_import_site():
    from ssb_coefficient_maker_spark import api

    tracer = Tracer()
    tracer.install()  # raises if an alias is not the hooked function
    try:
        assert hasattr(api.compile_formula, "__wrapped__")
        assert hasattr(api._validate, "__wrapped__")
    finally:
        tracer.uninstall()
    assert not hasattr(api.compile_formula, "__wrapped__")
    assert not hasattr(api.FormulaEvaluator.evaluate_formula, "__wrapped__")
    assert {h.span.split(".")[0] for h in HOOKS} == {
        "api", "catalog", "formula", "plans", "validation", "adp"}


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_inputs_repeat_for_a_seed(spark, name):
    a, b, c = (WORKLOADS[name](spark, seed) for seed in (7, 7, 8))
    for w in (a, b, c):
        w.generate()
    for key in a.data:
        if hasattr(a.data[key], "equals"):
            assert a.data[key].equals(b.data[key])
            assert not a.data[key].equals(c.data[key])


@pytest.fixture(scope="module")
def spark():
    from ssb_coefficient_maker_spark import get_spark

    run.put_engine_on_worker_path()
    session = get_spark(app_name="perfbench-tests")
    yield session
    run._stop_spark(session)


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_trace_counts_repeat_across_two_passes(spark, name):
    bench = run.Run(WORKLOADS[name], spark, seed=5)
    bench.generate()
    bench.one_pass()  # warm-up
    tracer = Tracer()
    for _ in range(2):
        bench.one_pass(lambda: tracer.trace_pass(spark, bench.workload.run_pass))
    assert bench.failed == 0
    first, second = tracer.pass_stats
    for key in COUNTS:
        assert first[key] == second[key], key
    assert first["spark.jobs"] > 0 and first["py4j.calls"] > 0
    assert first["spark.failed_tasks"] == 0
