"""Pins the benchmark's output schema: workload names, every metric name
with its unit, where each per-layer metric is measured, and that
BENCHMARK.json is the document `schema.py` describes. No Spark needed."""

import json
import os

import pytest

from perfbench import schema

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ["join_uniform", "join_hotspot", "query_mix"]

END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "query_p50_s": "s",
    "query_p90_s": "s",
}

PER_LAYER = {
    # session / datagen / set-up
    "session.start_s": "s", "datagen.regions_s": "s", "setup.pages_s": "s",
    "warmup.passes": "count",
    # queries / driver
    "queries.plan_s": "s", "query.samples": "count", "pip.build_s": "s",
    # operators.spatial_join
    "pip.scan_rows_per_page": "ratio", "pip.broadcast_builds": "count",
    "pip.broadcast_collect_s": "s", "pip.exact_share": "ratio",
    "pip.task_skew": "ratio",
    # Arrow/Python UDF boundary and the core.geomops kernel
    "udf.rows": "count", "udf.bytes_sent": "bytes",
    "udf.bytes_received": "bytes", "udf.python_s": "s",
    "udf.boot_init_s": "s", "udf.accept_ratio": "ratio",
    "kernel.pip_s": "s",
    # JVM operators
    "scan.s": "s", "agg.s": "s", "shuffle.write_bytes": "bytes",
    "shuffle.write_s": "s",
    # plans.lineage (StageRunner)
    "stage.pip_counts_s": "s", "stage.tile_density_s": "s",
    "stage.overview_s": "s", "write.files": "count", "write.bytes": "bytes",
    "write.commit_s": "s",
    # outcome and the trace itself
    "failed_frac": "ratio", "trace.pass_s": "s", "trace.overhead_s": "s",
    "trace.unattributed_share": "ratio", "trace.passes_unreconciled": "count",
    # the traced wall split among layers, and the tasks' time
    "wall.plan_s": "s", "wall.tasks_s": "s", "wall.spark_driver_s": "s",
    "wall.stage_runner_s": "s", "tasks.core_s": "s", "tasks.other_s": "s",
    # memory
    "mem.jvm_heap_peak_mb": "MB", "mem.python_workers_peak_mb": "MB",
}

JOINS = ("join_uniform", "join_hotspot")
ONLY_ON = {
    "queries.plan_s": ("query_mix",),
    "stage.pip_counts_s": JOINS, "stage.tile_density_s": JOINS,
    "stage.overview_s": JOINS, "write.files": JOINS, "write.bytes": JOINS,
    "write.commit_s": JOINS, "wall.stage_runner_s": JOINS,
}


def test_workloads():
    assert list(schema.WORKLOADS) == WORKLOADS
    assert schema.BENCHMARKED == ("join_hotspot", "query_mix")
    assert all(schema.WORKLOADS[w] for w in WORKLOADS)


def test_metric_names_and_units():
    assert {n: u for n, u, _, _ in schema.END_TO_END} == END_TO_END
    assert {n: u for n, u, _ in schema.PER_LAYER} == PER_LAYER
    assert dict(schema.MEASURED_ON) == ONLY_ON


def test_setup_bound_is_the_largest():
    bounds = {n: b for n, _, _, b in schema.END_TO_END}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_benchmark_json_matches_schema():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == schema.benchmark_json()


@pytest.mark.parametrize("trace", [False, True])
def test_result_line(trace):
    names = PER_LAYER if trace else END_TO_END
    values = {n: 1.5 for n in names}
    out = json.loads(schema.result_line(True, 3, 0, values, trace))
    assert list(out) == ["correct", "attempted", "failed", "metrics"]
    assert out["metrics"] == {n: {"value": 1.5, "unit": u}
                              for n, u in names.items()}
    with pytest.raises(ValueError):
        schema.result_line(True, 3, 0, dict(values, extra=1.0), trace)
    with pytest.raises(ValueError):
        schema.result_line(True, 3, 0, {}, trace)
    with pytest.raises(ValueError):
        schema.result_line(True, 0, 0, values, trace)
